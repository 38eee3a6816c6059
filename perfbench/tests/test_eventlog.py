"""Folding a Spark event log into per-job-group totals."""

import os
import shutil

import eventlog

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "tiny_eventlog.json")


def _fold():
    with open(FIXTURE) as f:
        return eventlog.fold(f)


def test_tasks_follow_the_group_of_their_job():
    out = _fold()
    decode = out["prefix.kernel.decode_s"]
    assert decode["tasks"] == 3
    assert decode["task_s"] == 2.25
    assert decode["shuffle_write_bytes"] == 500
    assert decode["spill_bytes"] == 1024  # disk bytes, not the in-memory size
    assert out[eventlog.NO_GROUP]["task_s"] == 0.125


def test_failed_and_metricless_tasks_count_once():
    composed = _fold()["composed"]
    assert composed["tasks"] == 2
    assert composed["task_s"] == 0.075


def test_a_skipped_stage_listed_by_a_later_job_keeps_its_tasks():
    out = _fold()
    assert out["composed"]["task_s"] == 0.075  # stage 3 ran under "composed"
    assert out["counts"]["tasks"] == 1


def test_fold_dir_reads_rolling_logs_and_sums_applications(tmp_path):
    rolling = tmp_path / "eventlog_v2_local-1"
    rolling.mkdir()
    lines = open(FIXTURE).read().splitlines(keepends=True)
    (rolling / "events_2_local-1").write_text("".join(lines[7:]))
    (rolling / "events_1_local-1").write_text("".join(lines[:7]))
    (rolling / "appstatus_local-1").write_text("")
    shutil.copy(FIXTURE, tmp_path / "local-2")
    (tmp_path / "local-3.inprogress").write_text("not json\n")
    out = eventlog.fold_dir(str(tmp_path))
    assert out["prefix.kernel.decode_s"]["task_s"] == 4.5
    assert out["composed"]["tasks"] == 4
    assert out["counts"]["task_s"] == 0.08
