"""Every engine name the benchmark's tracer wraps must resolve: a deleted or
renamed method fails here instead of crashing only traced benchmark runs."""

from __future__ import annotations

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.config import CrawlConfig
from dumb_crawler_spark.planner import IncrementalPlanner
from perfbench.trace import Tracer, instrument


def test_trace_instrument_and_restore():
    before = FR.plan_dequeue
    tr = Tracer(True)
    try:
        instrument(tr)
        assert tr._patches
        assert FR.plan_dequeue is not before
    finally:
        tr.restore()
    assert FR.plan_dequeue is before
    # crawl_layers reads the planner's state off the wrapped plan call
    assert IncrementalPlanner(CrawlConfig()).hist is None
