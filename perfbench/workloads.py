"""The benchmark's workloads: which operations one pass runs, on which
inputs, and how each operation's output is checked.

Every operation goes through the package's public entry points
(``queries.*``, ``plans.job.run_job``, ``sources.gensort``; the
streaming replay through q145).  An operation is *built*
(the call that returns its DataFrame, including any eager jobs the
call runs) and then *forced* by an action: the ``noop`` sink, or for
GraySort ``write_gensort`` into a benchmark-owned directory.

``data/`` holds byte-for-byte copies of the read-only sf0.1 test
tables these queries read, so a run reads nothing outside its
checkout.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
SF01 = os.path.join(HERE, "data", "sf0.1")

# Why each workload exists; BENCHMARK.json carries the same sentences.
WHY = {
    "graysort": "the paper's own workload: cost is data movement through sources/ and the shuffle, with no data.table and no iteration loops",
    "catalog": "catalog queries: five sub-second ones (data.table schema inference, Catalyst planning, job launch) and the streaming replay (micro-batch jobs run in the build)",
}

# Sizes are set by the run budget: every run, set-up included, has to
# fit in about a minute on four cores.  100,000 records (10 MB) per job.
GRAYSORT_RECORDS = 100_000

# Catalog queries over the sf0.1 tables: five sub-second ones, between
# them reading every table kind the catalog uses (text, events, the
# star schema) and taking 1-3 data.table calls each, and the streaming
# replay (streaming/budget.py), whose time is per-micro-batch jobs.
CATALOG_SHORT = (
    "q03_wordcount",
    "q10_global_agg",
    "q11_duplicate_keys",
    "q40_nation_market",
    "q54_yearly_cohorts",
)
CATALOG_REPLAY = "q145_budget_stream_replay"
# A timed pass calls each sub-second query this many times and the
# replay (4 s) once: the sub-second queries' medians need more calls
# than a run could afford of the replay.
SHORT_CALLS_PER_PASS = 2


@dataclass
class Op:
    """One operation of a pass.  ``build`` returns the DataFrame;
    ``force`` runs the action."""

    name: str
    build: Callable[[], DataFrame]

    # Check the output of every call, not only in the last timed pass.
    check_every_call = False

    def force(self, df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()


@dataclass
class SortOp(Op):
    """A GraySort job: gensort records -> run_job -> write_gensort.
    The check is valsort against the generator's own range checksum."""

    records: int = 0
    start: int = 0
    skewed: bool = False
    out_dir: str = ""
    check_every_call = True

    def force(self, df: DataFrame) -> None:
        from themis_tritonsort_spark.sources.gensort import write_gensort

        shutil.rmtree(self.out_dir, ignore_errors=True)
        write_gensort(df, self.out_dir)

    def output_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.out_dir, f))
            for f in os.listdir(self.out_dir)
        )


# Timed passes per run at least: each operation's time is the median
# of at least this many calls.
MIN_PASSES = 3


@dataclass
class Workload:
    name: str
    ops: list[Op]
    # The untimed warm-up passes, the first one cold.
    warm_passes: list[list[Op]]
    # Seconds one warm pass takes on local[2] (2026).  A fixed pass
    # count per run, instead of "until N seconds", keeps a run's work
    # the same when the host runs slower or faster.
    pass_s: float
    # Seed-derived inputs, recorded with the run.
    notes: dict = field(default_factory=dict)

    def passes(self, seconds: float) -> int:
        return max(MIN_PASSES, round(seconds / self.pass_s))


def graysort_start(seed: int) -> int:
    """gensort's -b for this seed.  Every start has the same bit
    length, so gensort's skewed mode picks the same skew row for every
    seed and the key distribution's shape does not depend on it."""
    return (1 << 32) + random.Random(seed).randrange(1 << 32)


def _sort_op(spark: SparkSession, name: str, n: int, start: int, skewed: bool, out: str) -> SortOp:
    from themis_tritonsort_spark.plans.job import ThemisJob, run_job
    from themis_tritonsort_spark.sources.gensort import gensort_records

    job = ThemisJob(
        map_function="PassThroughMapFunction",
        reduce_function="IdentityReduceFunction",
        partition_function="BoundaryListPartitionFunction",
    )

    def build() -> DataFrame:
        src = gensort_records(spark, n, start=start, skewed=skewed)
        return run_job(spark, job, df=src)

    return SortOp(name, build, records=n, start=start, skewed=skewed,
                  out_dir=os.path.join(out, name))


def graysort(spark: SparkSession, seed: int, work: str) -> Workload:
    start = graysort_start(seed)
    out = os.path.join(work, "gensort")

    ops = [
        _sort_op(spark, "sort_uniform", GRAYSORT_RECORDS, start, False, out),
        _sort_op(spark, "sort_skewed", GRAYSORT_RECORDS, start, True, out),
    ]
    # One warm-up pass, at full size: after warming up on 10,000-record
    # jobs instead, each timed pass still ran about 10% faster than the
    # one before.
    return Workload("graysort", ops, [ops], 8.0,
                    notes={"start": start, "records": GRAYSORT_RECORDS})


def _query_ops(spark: SparkSession, names: tuple[str, ...], sf_dir: str) -> list[Op]:
    from themis_tritonsort_spark import queries

    return [Op(n, (lambda fn=getattr(queries, n): fn(spark, sf_dir))) for n in names]


def catalog(spark: SparkSession, seed: int, work: str) -> Workload:
    short = _query_ops(spark, CATALOG_SHORT, SF01)
    replay = _query_ops(spark, (CATALOG_REPLAY,), SF01)
    calls = short * SHORT_CALLS_PER_PASS
    # The second warm-up pass brings the sub-second queries, which the
    # JIT speeds up over more calls than the replay, closer to their
    # plateau.
    return Workload("catalog", calls + replay, [short + replay, calls], 9.0)


OP_NAMES = {
    "graysort": ("sort_uniform", "sort_skewed"),
    "catalog": CATALOG_SHORT + (CATALOG_REPLAY,),
}

WORKLOADS = {
    "graysort": graysort,
    "catalog": catalog,
}
