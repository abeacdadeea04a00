"""Status/introspection surface: job-group tagging + UI toggle plumbing
(the reference's live task status display, exec/bigmachine.go:46-52)."""

from bigslice_spark.queries import QUERIES


def test_registry_queries_tag_job_group(spark, sf_dir):
    QUERIES["op_map"](spark, sf_dir)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") \
        == "bss:op_map"
    QUERIES["op_filter"](spark, sf_dir)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") \
        == "bss:op_filter"


def test_session_job_group_scopes_and_clears(session, spark):
    with session.job_group("my-batch", "docstring here"):
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") \
            == "my-batch"
        spark.range(10).count()
    assert not spark.sparkContext.getLocalProperty("spark.jobGroup.id")


def test_cancel_job_group_is_callable(session):
    session.cancel_job_group("no-such-group")  # no-op, must not raise


def test_timed_tags_each_query_with_its_own_group(spark, sf_dir):
    # the variant bypasses the registry wrapper that sets the tag, so
    # only bench.timed can attribute its jobs
    import bench
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    assert bench.timed(spark, "q1_pricing_summary", sf_dir) > 0
    first = set(tracker.getJobIdsForGroup("bss:q1_pricing_summary"))
    assert first
    assert "dedup_simhash" in bench.VARIANTS
    assert bench.timed(spark, "dedup_simhash", sf_dir) > 0
    assert set(tracker.getJobIdsForGroup("bss:q1_pricing_summary")) == first
    assert tracker.getJobIdsForGroup("bss:dedup_simhash")
    assert not sc.getLocalProperty("spark.jobGroup.id")


def test_profile_splits_eager_and_terminal_jobs_by_group():
    import json

    import profile_query

    def job(i, group, t0, t1):
        return [json.dumps({"Event": "SparkListenerJobStart", "Job ID": i,
                            "Submission Time": t0 * 1000,
                            "Stage Infos": [{"Stage ID": i}],
                            "Properties": {"spark.jobGroup.id": group}}),
                json.dumps({"Event": "SparkListenerJobEnd", "Job ID": i,
                            "Completion Time": t1 * 1000})]

    lines = [*job(0, "bss:a", 100.0, 101.0), *job(1, "bss:a", 100.5, 102.0),
             *job(2, "bss:a", 103.0, 103.5), *job(3, "bss:a", 104.2, 104.8),
             # B's first job starts inside A's window
             *job(4, "bss:b", 104.9, 106.0), *job(5, "bss:b", 106.5, 107.0),
             "not json",
             # a stage's tasks end before the stage completes
             json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                         "Task Metrics": {"Executor Run Time": 700}}),
             # input records sum over a stage's tasks
             json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                         "Task Metrics": {
                             "Executor Run Time": 0,
                             "Input Metrics": {"Bytes Read": 64,
                                               "Records Read": 4834}}}),
             json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                         "Task Metrics": {
                             "Input Metrics": {"Records Read": 166}}}),
             json.dumps({"Event": "SparkListenerStageCompleted",
                         "Stage Info": {"Stage ID": 0, "Stage Name": "s0",
                                        "Number of Tasks": 1}})]
    jobs, stages = profile_query.parse_event_log(lines)
    assert stages[0]["tasktime"] == 0.7 and stages[0]["ntask"] == 1
    assert stages[0]["records"] == 5000
    layers = profile_query.job_layers(
        jobs, {"a": (99.5, 104.0, 105.0), "b": (104.85, 106.2, 107.2)})
    a, b = layers["a"], layers["b"]
    assert [j["id"] for j in a["jobs"]] == [0, 1, 2, 3]
    assert (a["eager_jobs"], a["terminal_jobs"], a["other_jobs"]) == (3, 1, 1)
    assert abs(a["eager_s"] - 2.5) < 1e-9      # [100, 102] + [103, 103.5]
    assert abs(a["driver_s"] - 2.0) < 1e-9     # build 4.5 s - eager 2.5 s
    assert abs(a["terminal_s"] - 0.6) < 1e-9
    assert [j["id"] for j in b["jobs"]] == [4, 5]
    assert (b["eager_jobs"], b["terminal_jobs"], b["other_jobs"]) == (1, 1, 0)
