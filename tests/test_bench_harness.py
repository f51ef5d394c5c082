"""The bench protocol's rebuild rule is derived from the build itself.

``bench.build`` counts the persist/cache/localCheckpoint calls a query's
construction makes, and ``bench.rep`` rebuilds such a query on every
timed rep instead of re-executing a plan whose persisted intermediates an
earlier rep already materialized.
"""

import pytest

import __spark_entry__ as entrymod
import bench
from perfbench.common import FreshPlanGuard

SF_DIR = "/root/testdata/sf0.001"


def _second_build(spark, name):
    fn = entrymod.queries()[name]
    # the first build opens the base tables, which persists them
    bench.build(fn, spark, SF_DIR)
    return fn, *bench.build(fn, spark, SF_DIR)


@pytest.mark.parametrize("name", ["contamination_frac", "dup_threshold_hist"])
def test_construction_persist_is_counted_and_rebuilt(spark, name):
    fn, df, persisted = _second_build(spark, name)
    assert persisted > 0
    guard = FreshPlanGuard()
    for _ in range(2):
        _, ran = bench.rep(fn, spark, SF_DIR, df, persisted, guard)
        assert ran is not df


def test_non_persisting_plan_is_reused(spark):
    fn, df, persisted = _second_build(spark, "revenue_by_nation")
    assert persisted == 0
    guard = FreshPlanGuard()
    for _ in range(2):
        _, ran = bench.rep(fn, spark, SF_DIR, df, persisted, guard)
        assert ran is df
