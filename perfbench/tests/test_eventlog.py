"""The event-log parser on a small recorded log.

data/small_eventlog.jsonl was recorded from a local[2] session with AQE off
and trimmed to the events and fields the parser reads. Four jobs:
  alpha  range(1000, 2 slices).groupBy(id % 3).count().collect()
         -> 2 map tasks + 2 reduce tasks, 3 result rows
  beta   range(100, 2 slices) to the noop sink -> 2 tasks
  gamma  (nested in beta) range(10, 1 slice).count() -> 1 task
  (none) range(10, 1 slice).collect() outside every span -> 1 task
"""

import os

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


def test_layer_totals_match_recorded_jobs():
    totals = eventlog.parse(LOG).layer_totals()
    assert {k: (t.jobs, t.tasks, t.failed_tasks) for k, t in totals.items()} == {
        "alpha": (1, 4, 0), "beta": (1, 2, 0), "gamma": (1, 1, 0), "session": (1, 1, 0),
    }
    # executor CPU and shuffle bytes as recorded in the log's task metrics
    assert round(totals["alpha"].cpu_s * 1e9) == 294129766
    assert round(totals["alpha"].shuffle_mb * 2**20) == 266
    for layer in ("beta", "gamma", "session"):
        assert totals[layer].shuffle_mb == 0


def test_untagged_job_goes_to_the_span_open_at_submission():
    log = eventlog.parse(LOG)
    untagged = [j for j, (group, _, _) in log.jobs.items() if group is None]
    assert len(untagged) == 1
    submit = log.jobs[untagged[0]][1]
    tracer = eventlog.Tracer()
    tracer.spans = [
        eventlog.Span("runner", submit - 100, submit + 100),
        eventlog.Span("drift", submit - 10, submit + 10, parent=0),
    ]
    assert log.job_layers(tracer)[untagged[0]] == "drift"
    assert log.layer_totals(tracer)["drift"].tasks == 1


def test_sql_operator_metrics():
    log = eventlog.parse(LOG)
    # the final aggregate emits the 3 groups; partial + final emit 3 + 6
    assert log.topmost_rows("alpha", "HashAggregate(keys=[") == 3
    assert log.sql_metric("alpha", "HashAggregate", "number of output rows") == 9
    assert log.topmost_rows("beta", "HashAggregate(keys=[") == 0


def test_self_wall_subtracts_child_spans():
    tracer = eventlog.Tracer()
    tracer.spans = [
        eventlog.Span("runner", 0, 10_000),
        eventlog.Span("io", 2_000, 5_000, parent=0),
        eventlog.Span("runner", 20_000, 21_000),
    ]
    assert tracer.self_wall_s() == {"runner": 8.0, "io": 3.0}
