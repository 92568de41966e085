"""Driver job counts of the iterative registry queries, pinned as upper
bounds. Each query is planned AND collected under its own job group, so
the count covers the fixpoint rounds run while the plan is built as well
as the final result job. A refactor of the round loops may lower these
numbers; it must not raise them."""

import itertools

import pytest

from tests.conftest import SF_SMALL

# counts measured on the hand-written loops these queries ran before the
# shared fixpoint / pointer-doubling helpers replaced them
PINNED = {
    "watershed_dist": 13,
    "cost_distance": 5,
    "least_cost_path_dist": 22,
    "flow_length_dist": 12,
    "strahler_dist": 52,
}

_GROUP_IDS = itertools.count()


def count_jobs(spark, name):
    """Jobs run by registry query ``name``: plan + collect."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    group = f"job-count-{name}-{next(_GROUP_IDS)}"
    sc.setJobGroup(group, name)
    try:
        entry.queries()[name](spark, SF_SMALL).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(PINNED))
def test_job_count_does_not_grow(spark, name):
    n = count_jobs(spark, name)
    assert n <= PINNED[name], f"{name}: {n} jobs > pinned {PINNED[name]}"
