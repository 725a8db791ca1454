"""bench.py's measurement protocol, which tools/probe_queries.py and
tools/core_scaling.py share: the warm-to-plateau stop rule on scripted
wall sequences, and the build/exec job split that perfbench's Tracer
gives run_noop."""

from bench import timed_runs, warm_to_plateau


def _scripted(walls):
    """A run() that returns the next scripted wall; counts its calls."""
    it = iter(walls)

    def run():
        run.calls += 1
        return next(it)

    run.calls = 0
    return run


def test_stops_on_five_percent_plateau():
    run = _scripted([10.0, 5.0, 4.9, 1.0])
    assert warm_to_plateau(run, warm_cap=6) == 3
    assert run.calls == 3


def test_slow_ambient_pair_after_faster_run_is_not_a_plateau():
    # 6.0 -> 6.1 agree within 5%, but 3.0 was already seen: the pair is
    # ambient load, so warming continues until runs are back near 3.0.
    run = _scripted([5.0, 3.0, 6.0, 6.1, 3.05, 3.0, 1.0])
    assert warm_to_plateau(run, warm_cap=10) == 6
    assert run.calls == 6


def test_extends_past_cap_only_while_descending():
    # past warm_cap=3 the runs keep falling >=5%, then one does not
    run = _scripted([10.0, 8.0, 6.0, 5.5, 7.0, 1.0])
    assert warm_to_plateau(run, warm_cap=3, warm_cap_ext=10) == 5
    assert run.calls == 5


def test_no_extension_when_not_descending_at_cap():
    run = _scripted([10.0, 12.0, 10.0, 12.0, 10.0])
    assert warm_to_plateau(run, warm_cap=4, warm_cap_ext=8) == 4
    assert run.calls == 4


def test_never_beyond_extended_cap():
    walls = [100.0 * 0.9**i for i in range(20)]  # a steady 10% ramp
    run = _scripted(walls)
    assert warm_to_plateau(run, warm_cap=3, warm_cap_ext=6) == 6
    assert run.calls == 6
    run = _scripted(walls)
    assert warm_to_plateau(run, warm_cap=3) == 6  # default ext = 2 * cap
    assert run.calls == 6


def test_trace_counts_builder_eager_jobs(spark):
    from pyspark.sql import functions as F

    src = spark.range(0, 200_000, numPartitions=4)

    def builder(spark, sf_dir):
        src.count()  # eager, while the DataFrame is being built
        return src.groupBy((F.col("id") % 7).alias("k")).agg(F.sum("id"))

    sc = spark.sparkContext
    sc.setJobGroup("test-bench-measure-count", "count alone")
    try:
        src.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    count_jobs = len(sc.statusTracker().getJobIdsForGroup("test-bench-measure-count"))
    assert count_jobs > 0

    runs, stats = timed_runs(spark, "toy", builder, "unused", 2, traced=True)
    assert len(runs) == 2 and min(runs) > 0
    assert stats["build_jobs"] == count_jobs
    assert stats["exec_jobs"] > 0
    assert stats["missing_jobs"] == 0
    assert stats["cpu_sec_per_run"] > 0
    assert stats["stages"] > 0
