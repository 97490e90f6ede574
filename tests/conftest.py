import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from leftshove_spark.session import get_spark

    spark = get_spark(app_name="leftshove-spark-tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # Codegen-compile lint (r9 What's-wrong #1/#2): a whole-stage
    # compile failure is runtime-SILENT in production (Spark logs an
    # ERROR and re-runs the stage interpreted, row-at-a-time — the PQ
    # ADC WHEN-chain shipped that way for a round, invisible to
    # correctness checks and plan lints alike). With fallback disabled,
    # every query ANY test executes — including the full-gate sweep in
    # test_gate_tail_oracle — raises instead, so an expression-tree
    # blowup is a red test forever. See tests/test_codegen_lint.py.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    yield spark
    spark.stop()


# Session-wide build cache for gate queries at SF0001 (r17, suite wall
# time): FOUR parametrized sweeps (oracle parity, schema lint, and two
# plan lints) each re-BUILT every registered query — and building is
# the expensive half for the scenario/ANN rows, whose constructors run
# real Spark actions (state folds, Lloyd/PQ training) before returning
# the final frame. One build serves all four: the oracle sweep executes
# the cached frame, the lint sweeps only read .schema / the physical
# plan. Behavior per query is unchanged — the first build goes through
# the same gate wrapper (which releases the previous query's pins at
# entry) as before; later consumers just skip the redundant rebuild.
_GATE_BUILD_CACHE: dict = {}


@pytest.fixture(scope="session")
def gate_build(spark):
    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def build(name):
        if name not in _GATE_BUILD_CACHE:
            from leftshove_spark import queries as Q

            fn = Q.QUERIES.get(name, queries.get(name))
            _GATE_BUILD_CACHE[name] = fn(spark, SF0001)
        return _GATE_BUILD_CACHE[name]

    return build
