"""Percentile helper, spans, the event-log reader and the RSS sampler."""

import os
import time

import pytest

from perfbench import measure

DATA = os.path.join(os.path.dirname(__file__), "data")


def test_tail_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError, match="fewer than 10"):
        measure.percentile(list(range(99)), 90)
    assert measure.percentile(list(range(100)), 90) == pytest.approx(89.1)
    with pytest.raises(ValueError):
        measure.percentile(list(range(199)), 95)
    measure.percentile(list(range(200)), 95)


def test_median_of_few_samples():
    assert measure.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        measure.median([])


def test_spans_nest():
    spans = measure.Spans("t")
    with spans.span("outer"):
        with spans.span("inner"):
            pass
    with spans.span("inner"):
        pass
    outer, inner, again = spans.records
    assert outer["parent"] is None and inner["parent"] == 0 and again["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert len(spans.durations("inner")) == 2


def test_reads_recorded_event_log():
    # a two-group session: g1 ran a mapInArrow job and a parquet write,
    # g2 a filtered parquet read + count
    events = measure.read_event_log(os.path.join(DATA, "tiny_eventlog.zstd"))
    groups = measure.group_metrics(events)
    assert set(groups) == {"g1", "g2"}
    g1, g2 = groups["g1"], groups["g2"]
    assert (g1["jobs"], g1["tasks"]) == (2, 4)
    assert (g2["jobs"], g2["tasks"]) == (3, 4)
    assert g1["acc:data sent to Python workers"] > 0
    assert g2["acc:number of files read"] == 2
    assert g2["shuffle_write_bytes"] == g2["shuffle_read_bytes"] > 0
    assert g2["input_records"] == 10


def test_rss_sampler_sees_this_process():
    sampler = measure.RssSampler(os.getpid(), interval_s=0.01).start()
    deadline = time.monotonic() + 10
    try:
        while sampler.peak == 0 and time.monotonic() < deadline:
            time.sleep(0.01)
    finally:
        peak = sampler.stop()
    assert peak > 1 << 20
    assert sampler.peak_python > 0
