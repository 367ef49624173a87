"""Tests of the benchmark's own parts: the seeded generator and the
event-log parser.

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import EventLog, Spans, union_seconds  # noqa: E402


def _write(tmp_path, name, seed, n=2000, id_space=8000):
    path = tmp_path / name
    gen.write_events(str(path), seed, n, id_space)
    return (path / "events.parquet").read_bytes()


def test_same_seed_gives_identical_files(tmp_path):
    assert _write(tmp_path, "a", 7) == _write(tmp_path, "b", 7)


def test_other_seed_gives_other_ids_and_order(tmp_path):
    a = gen.events_table(2000, 7, 8000).column("event_id").to_pylist()
    b = gen.events_table(2000, 8, 8000).column("event_id").to_pylist()
    assert set(a) != set(b)
    common = [i for i in a if i in set(b)]
    assert common != [i for i in b if i in set(a)]


def test_event_ids_unique_and_in_range():
    t = gen.events_table(5000, 3, 20_000)
    ids = t.column("event_id").to_pylist()
    assert len(set(ids)) == len(ids) == 5000
    assert min(ids) >= 0 and max(ids) < 20_000
    with pytest.raises(ValueError):
        gen.events_table(10, 3, 5)


def test_schema_matches_engine_events(tmp_path):
    gen.write_events(str(tmp_path), 1, 100, 400)
    schema = pq.read_schema(tmp_path / "events.parquet")
    assert [(f.name, str(f.type)) for f in schema] == [
        ("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
        ("event_type", "string"), ("value", "double"), ("props", "string")]


def test_union_seconds_merges_and_clips():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert union_seconds(spans, 0.0, 10.0) == pytest.approx(5.0)
    assert union_seconds([], 0.0, 1.0) == 0.0


def test_spans_wrap_every_import_site_and_restore():
    import types

    def f(x):
        return x + 1

    a, b = types.ModuleType("a"), types.ModuleType("b")
    a.f = b.f = f
    spans = Spans()
    spans.install("f", [a, b], "f")
    assert a.f(1) == 2 and b.f(2) == 3
    assert spans.calls["f"] == 2 and spans.seconds["f"] >= 0
    spans.uninstall()
    assert a.f is f and b.f is f


@pytest.fixture(scope="module")
def event_log(tmp_path_factory):
    """A tiny local session with the plain-JSON event log on, running
    one aggregation (one shuffle) under a job group."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path_factory.mktemp("events")
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.shuffle.partitions", "3")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .getOrCreate())
    try:
        spark.sparkContext.setJobGroup("agg", "agg")
        start = time.time()
        (spark.range(0, 50_000, numPartitions=4)
         .groupBy((F.col("id") % 101).alias("k")).count()
         .write.format("noop").mode("overwrite").save())
        end = time.time()
    finally:
        spark.stop()
    return EventLog.from_dir(str(log_dir)), start, end


def test_shuffle_bytes_written_equal_bytes_read(event_log):
    ev, _, _ = event_log
    tot = ev.totals(ev.group_jobs(["agg"]))
    assert tot["shuffle_write_bytes"] > 0
    assert tot["shuffle_write_bytes"] == tot["shuffle_read_bytes"]
    assert tot["tasks"] == 4 + 3
    assert tot["run_s"] >= 0 and tot["cpu_s"] >= 0


def test_stage_spans_fall_inside_the_wall_clock_window(event_log):
    """The JVM logs stage times in whole milliseconds of its own clock;
    they must fall inside the Python-side [start, end] of the action, or
    driver-only time (wall minus busy) would be computed from clipped
    spans and could hide a clock disagreement."""
    ev, start, end = event_log
    jobs = ev.group_jobs(["agg"])
    spans = ev.stage_spans(jobs)
    assert len(spans) == 2
    for lo, hi in spans:
        assert start - 1e-3 <= lo <= hi <= end
    unclipped = union_seconds(spans, float("-inf"), float("inf"))
    assert 0 < unclipped <= end - start + 1e-3
    assert ev.busy_seconds(jobs, start, end) == pytest.approx(
        unclipped, abs=1e-3)


def test_totals_count_the_stages_that_ran(event_log):
    ev, _, _ = event_log
    assert ev.totals(ev.group_jobs(["agg"]))["stages"] == 2
    assert ev.totals([])["stages"] == 0
