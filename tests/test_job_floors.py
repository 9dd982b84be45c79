"""Structural job-count pins for the headline queries.

Every job is a scheduling floor the query pays at ANY scale, so the
r10/r11 job cuts (fused perplexity filter, semdedup staging collapse,
the one-stage tiny sort, LocalRelation literal grids) and the one-task
plan for small inputs are guarded
here the same way plan asserts guard exchanges: if a change silently
re-adds a stage, the pin trips.  Counts are measured with the bench's
noop-sink protocol at sf0.001 and are deterministic for a fixed plan;
the pins are UPPER bounds so a future improvement never fails them.
"""

import pytest

SF_DIR = "/root/testdata/sf0.001"

# query -> max jobs per execution (the measured structural count)
PINS = {
    # a small input runs as one task (plans.util.one_task_if_small):
    # aggregate + sort in one stage, one job (was 2: map agg +
    # final-agg-with-sort)
    "sum": 1,
    "mean": 1,
    # r12: stats-chosen "driver" strategy — one collect job + the
    # LocalRelation-side sort/noop job.  +1 trivial job vs the arrow
    # kernel, measured 2.5x less wall (0.64s vs 1.6s at sf0.1)
    "quantile": 2,
    "dayofyear_mean": 1,
    "monthhour_sum": 1,
    # one-task reindex: a shuffle-hash join of two one-partition
    # sides, no broadcast of the aggregate (was 4 and 3), and the
    # two-key grid crossed as a one-partition cartesian, no broadcast
    # of a part (was 2)
    "expected_fill": 1,
    "binned_count": 1,
    "perplexity": 4,         # LM literal-model path
    "perplexity_filter": 4,  # == perplexity + 0 (the r10 fusion)
    "winsorize": 2,          # literal fences (r10 rewrite)
    "semdedup_pairs": 3,     # r11 staging collapse (was 5)
    "decontaminate": 4,      # r12 literal NOT-IN path (was 6)
}


@pytest.mark.parametrize("name", sorted(PINS))
def test_job_count_pin(spark, name):
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    st = spark.sparkContext.statusTracker()

    def run():
        q(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    run()  # warm: plans, broadcast relations, parquet footers
    before = set(st.getJobIdsForGroup(None))
    run()
    got = len(set(st.getJobIdsForGroup(None)) - before)
    assert got <= PINS[name], (
        f"{name} now runs {got} jobs (pinned <= {PINS[name]}): a stage "
        "crept back in — see SCALE.md r10/r11 job-cut notes"
    )
