"""Tests of the benchmark's pure helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402
from spans import Traced, Tracer  # noqa: E402


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer}


def test_self_time_subtracts_children():
    spans = [span(0, None, 0.0, 10.0, "a"), span(1, 0, 2.0, 5.0, "b"),
             span(2, 0, 6.0, 7.0, "c")]
    assert stats.layer_self_times(spans) == {"a": 6.0, "b": 3.0, "c": 1.0}


def test_concurrent_children_count_once():
    spans = [span(0, None, 0.0, 10.0, "job"), span(1, 0, 1.0, 4.0, "stage"),
             span(2, 0, 3.0, 6.0, "stage")]
    by = stats.layer_self_times(spans)
    assert by == pytest.approx({"job": 5.0, "stage": 5.0})


def test_children_are_clipped_to_the_parent():
    # a Spark job recorded by the status store can end after its span
    spans = [span(0, None, 0.0, 4.0, "a"), span(1, 0, 3.0, 9.0, "b")]
    assert stats.layer_self_times(spans) == pytest.approx({"a": 3.0, "b": 1.0})


def test_layer_self_times_add_up_to_the_root():
    spans = [
        span(0, None, 0.0, 10.0, "run"),
        span(1, 0, 0.0, 6.0, "queries"),
        span(2, 1, 1.0, 3.0, "operators.dedup"),
        span(3, 2, 1.5, 2.5, "spark.job"),
        span(4, 0, 6.0, 10.0, "spark.exec"),
        span(5, 4, 7.0, 9.0, "spark.job"),
        span(6, 5, 7.0, 8.5, "spark.stage"),
        span(7, 5, 7.5, 8.0, "spark.stage"),
        span(8, None, 20.0, 30.0, "elsewhere"),
    ]
    by = stats.layer_self_times(stats.subtree(spans, 0))
    assert by == pytest.approx({
        "queries": 4.0, "operators.dedup": 1.0, "spark.job": 1.5,
        "spark.exec": 2.0, "spark.stage": 1.5,
    })
    assert sum(by.values()) == pytest.approx(10.0)
    assert "elsewhere" not in by


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.eligible(100, 90)
    assert not stats.eligible(99, 90)
    assert stats.eligible(20, 50)
    assert not stats.eligible(19, 50)


def test_sql_timing_metrics_read_as_seconds():
    total = ("total (min, med, max (stageId: taskId))\n"
             "10.2 s (406 ms, 2.4 s, 2.5 s (stage 5.0: task 10))")
    assert stats.duration_s(total) == pytest.approx(10.2)
    assert stats.duration_s("406 ms") == pytest.approx(0.406)
    assert stats.duration_s("1.5 m") == pytest.approx(90.0)
    assert stats.duration_s("1,204 ms") == pytest.approx(1.204)


def test_latency_runs_from_due_to_the_last_commit_holding_a_doc():
    landings = [{"due": 10.0, "ids": [1, 2]}, {"due": 11.0, "ids": [3]}]
    audit_batch = {1: 0, 2: 1, 3: 1}
    commit = {0: 12.0, 1: 15.5}
    assert stats.landing_latencies(landings, audit_batch, commit) == [5.5, 4.5]


def test_latency_of_an_unaudited_doc_is_an_error():
    with pytest.raises(KeyError):
        stats.landing_latencies([{"due": 0.0, "ids": [7]}], {}, {})


# doc 3 re-lands doc 1's text exactly; doc 5 re-lands doc 2's text,
# which was rejected: a re-landing is never new either way
LANDED = {1: "a b c", 2: "x", 3: "a b c", 4: "a b d", 5: "x"}
GOOD_AUDIT = [(1, "new"), (2, "low_quality"), (3, "exact_dup"), (4, "new"),
              (5, "exact_dup")]


def test_ingest_invariants_hold():
    assert stats.ingest_violations(LANDED, GOOD_AUDIT, [1, 4]) == []


@pytest.mark.parametrize(
    "audit, corpus, needle",
    [
        (GOOD_AUDIT[:-1], [1, 4], "without an audit row"),
        (GOOD_AUDIT + [(4, "new")], [1, 4], "more than one audit row"),
        (GOOD_AUDIT + [(9, "new")], [1, 4, 9], "never landed"),
        (GOOD_AUDIT, [1, 4, 4], "corpus ids repeat"),
        (GOOD_AUDIT, [1], "corpus ids != audit new ids"),
        (GOOD_AUDIT, [1, 2, 4], "corpus ids != audit new ids"),
        ([(1, "new"), (2, "low_quality"), (3, "new"), (4, "new"),
          (5, "exact_dup")], [1, 3, 4], "exact re-landings marked new"),
        # the first landing of a text was rejected; its re-landing is
        # still not new
        (GOOD_AUDIT[:-1] + [(5, "new")], [1, 4, 5], "exact re-landings marked new"),
    ],
)
def test_ingest_invariant_violations(audit, corpus, needle):
    bad = stats.ingest_violations(LANDED, audit, corpus)
    assert any(needle in b for b in bad), bad


def test_traced_function_records_a_span_and_pickles_as_the_original():
    import pickle

    tracer = Tracer("t")
    traced = Traced(tracer, stats.median, "operators.x")
    assert traced([1.0, 3.0]) == 2.0
    assert tracer.counts["operators.x.calls"] == 1
    (s,) = tracer.spans
    assert (s["layer"], s["name"], s["parent"]) == ("operators.x", "median", None)
    assert s["end"] >= s["start"]
    assert pickle.loads(pickle.dumps(traced)) is stats.median


def test_nested_spans_get_their_parent():
    tracer = Tracer("t")
    with tracer.span("queries", "q") as outer:
        with tracer.span("operators.dedup", "d") as inner:
            pass
    assert inner["parent"] == outer["id"]
    assert outer["parent"] is None
