"""Task-width policy (operators/spread.py): every width is one
``ceil(size / budget)`` clamp with its own floor, cap and unknown-size
fallback. These pins keep the policy where it is while the widths are
folded or recalibrated."""

import pytest

from sparkswift.operators import spread as sp

TINY, HUGE = 1, 1 << 60


def test_task_width_clamp():
    assert sp.task_width(0, 4096, 2, 32) == 2
    assert sp.task_width(1, 4096, 1, 32) == 1
    assert sp.task_width(4096 * 5, 4096, 2, 32) == 5
    assert sp.task_width(4096 * 5 + 1, 4096, 2, 32) == 6  # ceil
    assert sp.task_width(HUGE, 4096, 2, 32) == 32
    assert sp.task_width(None, 4096, 2, 32) == 32  # fallback defaults to cap
    assert sp.task_width(None, 4096, 2, 64, fallback=8) == 8


@pytest.fixture
def frame(spark):
    return spark.range(10, numPartitions=1)


def _with_estimate(monkeypatch, size):
    monkeypatch.setattr(sp, "_size_estimate", lambda df: size)


def test_tiny_input_takes_each_floor(spark, frame, monkeypatch):
    _with_estimate(monkeypatch, TINY)
    assert sp.spread_width(frame) == 2
    assert sp.spread_width(frame, light=True) == 1
    assert sp.listing_width(frame) == 1
    assert sp.chain_rounds(frame) == 2
    assert sp.loop_width(frame, TINY) == 2


def test_huge_input_takes_each_cap(spark, frame, monkeypatch):
    par = spark.sparkContext.defaultParallelism
    _with_estimate(monkeypatch, HUGE)
    assert sp.spread_width(frame) == max(2, par)
    assert sp.spread_width(frame, light=True) == par
    assert sp.listing_width(frame) == par
    assert sp.chain_rounds(frame) == 64
    assert sp.loop_width(frame, HUGE) == max(2, par)


def test_failed_estimate_takes_each_fallback(spark, frame, monkeypatch):
    par = spark.sparkContext.defaultParallelism
    _with_estimate(monkeypatch, None)
    assert sp.spread_width(frame) == par
    assert sp.spread_width(frame, light=True) == par
    assert sp.listing_width(frame) == par
    assert sp.chain_rounds(frame) == 8


def test_spread_widens_a_narrow_frame(spark, frame, monkeypatch):
    par = spark.sparkContext.defaultParallelism
    _with_estimate(monkeypatch, HUGE)
    assert sp.spread(frame).rdd.getNumPartitions() == max(2, par)
    assert sp.spread_light(frame).rdd.getNumPartitions() == par


def test_spread_is_a_noop_on_streaming_and_wide_frames(spark, monkeypatch):
    _with_estimate(monkeypatch, HUGE)
    stream = spark.readStream.format("rate").load()
    assert sp.spread(stream) is stream
    assert sp.spread_light(stream) is stream
    wide = spark.range(10, numPartitions=max(2, spark.sparkContext.defaultParallelism))
    assert sp.spread(wide) is wide
    assert sp.spread_light(wide) is wide


def test_tiny_frame_is_not_exchanged_by_the_light_tier(spark, frame):
    # the real estimate of a 10-row range is far under LIGHT_TASK_BYTES
    assert sp.spread_light(frame) is frame
    assert sp.spread(frame).rdd.getNumPartitions() == 2


def test_prepart_width(spark, frame):
    par = spark.sparkContext.defaultParallelism
    assert sp.prepart(frame, "id").rdd.getNumPartitions() == par
    assert sp.prepart(frame, "id", n_rows=TINY).rdd.getNumPartitions() == 2
