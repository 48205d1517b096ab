"""The event-log reader on a canned log."""

import os

import pytest

from eventlog import read_events, summarize

DATA = os.path.join(os.path.dirname(__file__), "data")


def test_summarize_groups_tasks_by_job_group():
    groups = summarize(read_events(os.path.join(DATA, "eventlog_small.json")))
    lp = groups["perfbench:3:coarsen.lp"]
    assert lp.jobs == {0}
    assert lp.stages == {0, 1}
    assert lp.tasks == 3
    assert lp.task_s == pytest.approx(0.6)
    assert lp.gc_s == pytest.approx(0.01)
    assert lp.shuffle_write_bytes == 8192
    assert lp.shuffle_read_bytes == 8192
    other = groups[None]
    assert other.jobs == {1} and other.stages == {3} and other.tasks == 1


def test_directory_of_parts_and_torn_line(tmp_path):
    part = tmp_path / "eventlog_v2_app" / "events_1_app"
    part.parent.mkdir()
    part.write_text(open(os.path.join(DATA, "eventlog_small.json")).read())
    (part.parent / "appstatus_app.inprogress").write_text("")
    events = list(read_events(str(tmp_path)))
    assert len(events) == 11  # the torn last line is skipped
