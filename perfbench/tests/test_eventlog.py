"""The event-log reader on a small recorded log.

``data/small_eventlog.jsonl`` is the event log of a local[2] session
(trimmed to the events the reader uses) that ran:

- description ``layer.count``: ``spark.range(0, 1000, 1, 4).count()``
- description ``layer.agg``: a 4-partition range grouped by ``id % 7``
  and collected
- no description: ``spark.range(10).collect()``
"""

from pathlib import Path

import eventlog

LOG = Path(__file__).parent / "data" / "small_eventlog.jsonl"


def _events():
    return eventlog.read_events(LOG)


def test_groups_by_job_description():
    g = eventlog.summarize(_events())
    assert g["layer.count"].jobs == 2 and g["layer.agg"].jobs == 2
    assert g[""].jobs == 1
    # 4 map tasks + 1 reduce task each; the untagged range is 2 tasks
    assert g["layer.count"].tasks == 5 and g["layer.agg"].tasks == 5
    assert g[""].tasks == 2


def test_exchanges_come_from_final_plans():
    g = eventlog.summarize(_events())
    # count() and groupBy() each shuffle once; a plain collect does not
    assert g["layer.count"].exchanges == 1
    assert g["layer.agg"].exchanges == 1
    assert sum(x.exchanges for d, x in g.items() if d not in ("layer.count", "layer.agg")) == 0


def test_task_metrics_add_up_to_the_log_totals():
    events = _events()
    g = eventlog.summarize(events)
    ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    cpu = sum(e["Task Metrics"]["Executor CPU Time"] for e in ends) / 1e9
    gc = sum(e["Task Metrics"]["JVM GC Time"] for e in ends) / 1e3
    written = sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in ends
    ) / eventlog.MB
    assert abs(sum(x.task_cpu_s for x in g.values()) - cpu) < 1e-9
    assert abs(sum(x.gc_s for x in g.values()) - gc) < 1e-9
    assert abs(sum(x.shuffle_write_mb for x in g.values()) - written) < 1e-12
    # every shuffled byte written is read back within the same group
    for d in ("layer.count", "layer.agg"):
        assert g[d].shuffle_write_mb > 0
        assert abs(g[d].shuffle_read_mb - g[d].shuffle_write_mb) < 1e-12
        assert g[d].spill_mb == 0


def test_task_skew_is_max_over_median_of_the_busiest_stage():
    events = _events()
    g = eventlog.summarize(events)
    stages = next(
        e["Stage IDs"] for e in events
        if e["Event"] == "SparkListenerJobStart"
        and e["Properties"].get("spark.job.description") == "layer.agg"
    )
    times = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            info = e["Task Info"]
            times.setdefault(e["Stage ID"], []).append(info["Finish Time"] - info["Launch Time"])
    # the agg's busiest stage is its 4-task map stage
    busiest = max(times.values(), key=sum)
    assert len(busiest) == 4
    ordered = sorted(busiest)
    median = (ordered[1] + ordered[2]) / 2
    assert abs(g["layer.agg"].task_skew - max(busiest) / median) < 1e-12


def test_gaps_are_wall_time_with_no_job_running():
    assert eventlog.gap_s([(100, 200), (150, 300), (500, 600)], 0, 1000) == 0.7
    assert eventlog.gap_s([], 0, 2000) == 2.0
    assert eventlog.gap_s([(0, 5000)], 1000, 2000) == 0.0
    g = eventlog.summarize(_events())
    (a, b), (c, d) = sorted(g["layer.agg"].job_intervals)
    assert abs(eventlog.gap_s([(a, b), (c, d)], a, d) - (c - b) / 1e3) < 1e-9


def test_reads_a_rolling_log_directory(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = LOG.read_text().splitlines(keepends=True)
    (app / "events_2_local-1").write_text("".join(lines[20:]))
    (app / "events_1_local-1").write_text("".join(lines[:20]))
    (app / "appstatus_local-1").write_text("")
    assert eventlog.read_events(tmp_path) == _events()
