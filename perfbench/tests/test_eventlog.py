"""Event-log parser on a small committed log.

The log is Spark 4.1 output (trimmed to the fields the parser reads) for two
job groups on ``local[2]`` with broadcast joins off:

- ``pass0/join``: a sort-merge join of 1000 rows (``id % 10`` keys) against
  100 rows (keys 0..99), grouped and written to the noop sink.  Two shuffle
  map jobs run first; the final job lists their stages again as skipped.
- ``pass0/write``: ten rows written to parquet in one task.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def test_groups_and_counts():
    groups = eventlog.summarize(eventlog.read_events(LOG))
    assert set(groups) == {"pass0/join", "pass0/write"}
    join = groups["pass0/join"]
    assert len(join.jobs) == 3
    assert (join.stages, join.stages_skipped, join.tasks, join.task_retries) == (3, 2, 5, 0)
    assert join.input_rows == 1100  # both range scans
    assert join.join_rows_out == 1000  # every left row meets one right row
    assert join.shuffle_write_mb == pytest.approx(join.shuffle_read_mb)
    assert join.shuffle_write_mb > 0
    assert join.spill_mb == 0
    assert 0 < join.executor_cpu_s <= join.executor_run_s
    write = groups["pass0/write"]
    assert (len(write.jobs), write.stages, write.tasks, write.input_rows) == (1, 1, 1, 10)
    assert write.join_rows_out == 0
    for start, end in join.jobs + write.jobs:
        assert start <= end


def test_rolling_directory_reads_like_one_file(tmp_path):
    with open(LOG, encoding="utf-8") as fh:
        lines = fh.readlines()
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    half = len(lines) // 2
    (log_dir / "events_1_local-1").write_text("".join(lines[:half]))
    (log_dir / "events_2_local-1").write_text("".join(lines[half:]))
    assert eventlog.summarize(eventlog.read_events(str(tmp_path))) == eventlog.summarize(
        eventlog.read_events(LOG)
    )


def test_merge_adds_every_field():
    groups = eventlog.summarize(eventlog.read_events(LOG))
    total = eventlog.GroupStats()
    for s in groups.values():
        total.add(s)
    assert len(total.jobs) == 4
    assert total.tasks == 6
    assert total.input_rows == 1110


def test_covered_seconds_unions_and_clips():
    intervals = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.8)]
    assert eventlog.covered_seconds(intervals, 0.0, 10.0) == pytest.approx(4.0)
    assert eventlog.covered_seconds(intervals, 2.5, 5.5) == pytest.approx(1.0)
    assert eventlog.covered_seconds([], 0.0, 1.0) == 0.0
