"""Self-time arithmetic, id-range attribution and trigger capture of the
benchmark's tracer, at sf0.001.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import threading

import pytest

from perfbench.tracing import Tracer, covered, self_time
from tests.conftest import SF_DIR  # the suite's sf0.001 tables


def test_self_time_subtracts_the_union_of_children():
    # disjoint children
    assert self_time(0, 10, [(1, 2), (4, 6)]) == 7
    # overlapping and nested children are counted once
    assert self_time(0, 10, [(1, 5), (3, 7), (4, 5)]) == 4
    # children sticking out of the parent are clipped to it
    assert self_time(2, 6, [(0, 3), (5, 9)]) == 2
    # children outside the parent cover nothing
    assert self_time(2, 6, [(0, 1), (7, 9)]) == 4
    assert covered(0, 10, []) == 0
    # a child covering everything leaves no self time
    assert self_time(1, 3, [(0, 4)]) == 0


@pytest.fixture(scope="module")
def spark():
    from qa_data_pipeline_rag_llm_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s


def _shuffle_job(spark, n: int) -> None:
    spark.range(n).selectExpr("id % 5 AS k").groupBy("k").count().collect()


def test_stage_range_attribution_splits_consecutive_calls(spark):
    tracer = Tracer(spark)
    with tracer.call("first") as a:
        _shuffle_job(spark, 1000)
    with tracer.call("second") as b:
        _shuffle_job(spark, 2000)
        _shuffle_job(spark, 3000)
    assert a.jobs and b.jobs
    assert len(b.jobs) > len(a.jobs)
    a_ids = {s["id"] for s in a.stages}
    b_ids = {s["id"] for s in b.stages}
    assert a_ids and b_ids and not a_ids & b_ids
    assert max(a_ids) < min(b_ids)
    assert sum(s["tasks"] for s in b.stages) > 0
    # job spans are children of the call that ran them
    call_span = next(s for s in tracer.spans if s["name"] == "second")
    job_spans = [s for s in tracer.spans if s["name"] == "spark.job"]
    assert sum(s["parent"] == call_span["id"] for s in job_spans) == len(b.jobs)
    assert 0 <= b.self_s <= b.wall_s


def test_jobs_from_another_thread_and_job_group_are_attributed(spark):
    """Micro-batches run on the stream's thread under the stream's job
    group; a job-group filter would miss them, the id range does not."""
    tracer = Tracer(spark)

    def other_thread():
        spark.sparkContext.setJobGroup("not-the-caller", "other thread")
        _shuffle_job(spark, 500)

    with tracer.call("call") as c:
        t = threading.Thread(target=other_thread)
        t.start()
        t.join(timeout=120)
    assert not t.is_alive()
    assert c.jobs and c.stages


def test_listener_captures_streaming_triggers(spark):
    from qa_data_pipeline_rag_llm_spark.plans.queries import REGISTRY

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tracer = Tracer(spark)
    tracer.attach()
    try:
        with tracer.call("plans.build", "q") as c:
            REGISTRY["streaming_events_hourly"].spark(spark, SF_DIR)
    finally:
        tracer.detach()
    assert c.triggers, "no progress events reached the listener"
    for t in c.triggers:
        assert t["duration_ms"]["triggerExecution"] >= 0
        assert t["end"] >= t["start"]
    assert sum(t["input_rows"] for t in c.triggers) > 0
    # the micro-batch jobs are in the build call's range
    assert c.jobs
    names = [s["name"] for s in tracer.spans]
    assert names.count("streaming.trigger") == len(c.triggers)
