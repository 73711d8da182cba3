"""Self-tests of the benchmark's own pieces.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from checks import valsort_errors  # noqa: E402
from report import LAYER_METRICS  # noqa: E402
from run import END_TO_END  # noqa: E402
from stats import percentile, reportable_percentiles, valid_metric_name  # noqa: E402
from workloads import OP_NAMES, WHY, WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_percentile_needs_ten_samples_beyond():
    assert reportable_percentiles(0) == []
    assert reportable_percentiles(1) == [50]
    assert reportable_percentiles(99) == [50]
    assert reportable_percentiles(100) == [50, 90]
    assert reportable_percentiles(999) == [50, 90]
    assert reportable_percentiles(1000) == [50, 90, 99]
    for n in range(1, 2000):
        for p in reportable_percentiles(n):
            beyond = n - -(-p * n // 100)  # samples above the nearest rank
            assert p == 50 or beyond >= 10, (n, p)


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile(list(reversed(xs)), 90) == 90.0
    assert percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_every_metric_name_is_valid():
    names = list(END_TO_END) + list(LAYER_METRICS)
    bench = _benchmark_json()
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(valid_metric_name(n) for n in names), [n for n in names if not valid_metric_name(n)]
    assert not valid_metric_name("op.a b.s")
    assert not valid_metric_name("_lead")
    assert not valid_metric_name("x" * 65)


def test_benchmark_json_matches_the_code():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {w["name"]: w["why"] for w in bench["workloads"]} == WHY
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == LAYER_METRICS
    assert set(OP_NAMES) == set(WORKLOADS)


def test_every_digest_checked_op_has_an_expected_digest():
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    want = {f"{w}/{op}" for w, ops in OP_NAMES.items() if w != "graysort" for op in ops}
    assert set(expected) == want


def test_valsort_errors():
    ok = {"sorted": True, "records": 10, "checksum": 0xABC}
    assert valsort_errors(ok, 10, 0xABC) == []
    assert len(valsort_errors({**ok, "sorted": False}, 10, 0xABC)) == 1
    assert len(valsort_errors(ok, 11, 0xABD)) == 2


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark")
    del pyspark
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("spark-local"))
    from themis_tritonsort_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def test_digest_ignores_row_order_and_partitioning(spark):
    from checks import digest

    rows = [(i, f"w{i % 7}", i * 0.1, [i * 0.5, 1.0]) for i in range(200)]
    schema = "id long, w string, x double, v array<double>"
    a = spark.createDataFrame(rows, schema)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(5)
    assert digest(a) == digest(b)
    # Float noise below 12 significant digits does not change it.
    c = spark.createDataFrame([(i, w, x * (1 + 1e-15), v) for i, w, x, v in rows], schema)
    assert digest(c) == digest(a)


def test_digest_sees_values_duplicates_and_columns(spark):
    from checks import digest

    rows = [(i, f"w{i}") for i in range(50)]
    a = spark.createDataFrame(rows, "id long, w string")
    changed = spark.createDataFrame(rows[:-1] + [(49, "other")], "id long, w string")
    doubled = spark.createDataFrame(rows + rows[:1], "id long, w string")
    renamed = spark.createDataFrame(rows, "id long, word string")
    assert len({digest(a), digest(changed), digest(doubled), digest(renamed)}) == 4
