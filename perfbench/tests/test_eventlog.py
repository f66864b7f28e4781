"""Event-log parser against a recorded log.

``data/flagship_sf0001_events.json.gz`` is the Spark event log of one
flagship pipeline run (``run_flagship`` on the sf0.001 corpus, customer
tables only, k=3, ``local[4]``), cut after its last job and reduced to the
events and fields the parser reads. The pipeline reported these job counts
per group for that run (``PipelineRun.metrics["jobs"]``), so the parser must
find the same.

    python -m pytest perfbench/tests -q
"""

import gzip
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402

DATA = os.path.join(os.path.dirname(__file__), "data",
                    "flagship_sf0001_events.json.gz")
PIPELINE_JOBS = {
    "stage_prep": 6, "stage_lookup": 9, "annot_build_inputs": 12,
    "annot_pass1": 5, "annot_pass2": 7, "annot_pass3": 16, "annot_pass4": 25,
    "stage_materialize": 6, "ungrouped": 12,
}


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    path = tmp_path_factory.mktemp("ev") / "events.json"
    with gzip.open(DATA, "rb") as src, open(path, "wb") as dst:
        shutil.copyfileobj(src, dst)
    return eventlog.parse(str(path))


def _window(log):
    start = min(j.submit_ms for j in log.jobs.values()) / 1000.0
    end = max(j.complete_ms for j in log.jobs.values()) / 1000.0
    return start, end


def test_jobs_per_group_match_the_pipelines_own_counts(log):
    groups = eventlog.group_metrics(log, *_window(log))
    groups.pop("_outside_s")
    assert {g: m["jobs"] for g, m in groups.items()} == PIPELINE_JOBS
    assert all(j.succeeded for j in log.jobs.values())


def test_group_walls_and_outside_time_sum_to_the_window(log):
    start, end = _window(log)
    groups = eventlog.group_metrics(log, start, end)
    outside = groups.pop("_outside_s")
    total = sum(m["wall_s"] for m in groups.values()) + outside
    assert total == pytest.approx(end - start, abs=1e-6)
    assert outside > 0


def test_per_group_task_metrics_are_consistent(log):
    groups = eventlog.group_metrics(log, *_window(log))
    groups.pop("_outside_s")
    for name, m in groups.items():
        assert m["task_s"] > 0, name
        assert 0 <= m["idle_s"] <= m["wall_s"] + 1e-6, name
        assert m["gc_s"] <= m["task_s"], name
    # every shuffle byte written inside the run is read inside it
    written = sum(m["shuffle_write_mb"] for m in groups.values())
    read = sum(m["shuffle_read_mb"] for m in groups.values())
    assert read == pytest.approx(written, rel=0.05)


def test_every_stage_with_tasks_belongs_to_a_job(log):
    for st in log.stages.values():
        if st.tasks:
            assert st.stage_id in log.stage_job


def test_window_selects_jobs_by_submission_time(log):
    start, end = _window(log)
    first = min(log.jobs.values(), key=lambda j: j.submit_ms)
    groups = eventlog.group_metrics(log, first.submit_ms / 1000.0 + 1e-3, end)
    groups.pop("_outside_s")
    assert sum(m["jobs"] for m in groups.values()) == len(log.jobs) - 1


def test_spans_form_a_tree(log):
    spans = eventlog.spans(log, "run")
    ids = {s["id"] for s in spans} | {"run"}
    assert all(s["parent"] in ids for s in spans)
    kinds = {s["kind"] for s in spans}
    assert kinds == {"job_group", "job", "stage"}
    assert sum(s["kind"] == "job" for s in spans) == len(log.jobs)
    for s in spans:
        assert s["end"] >= s["start"]


def test_sweep_shares_overlap_evenly():
    share, outside = eventlog._sweep(
        {"a": [(0.0, 4.0)], "b": [(2.0, 6.0)]}, 0.0, 10.0)
    assert share == {"a": 3.0, "b": 3.0}
    assert outside == 4.0
