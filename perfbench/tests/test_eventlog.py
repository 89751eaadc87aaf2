"""The event-log parser on a small recorded log.

``data/small_eventlog.jsonl`` is a Spark 4.1 event log, cut down to the
fields the parser reads, of three job groups on ``local[2]``:

- ``g-scan``: a JSON scan and aggregate (one schema-inference job, then
  a two-job adaptive query);
- ``g-cache``: the same scan persisted, then counted twice, so the raw
  files are scanned once and the second count reads cached blocks;
- ``g-py``: a ``mapInPandas`` pass-through over ``range(50)``.
"""

import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def groups():
    with open(os.path.join(DATA, "small_eventlog.jsonl")) as f:
        return eventlog.group_metrics(f)


def test_every_job_lands_in_its_group(groups):
    assert set(groups) == {"g-scan", "g-cache", "g-py"}
    assert [groups[g]["jobs"] for g in ("g-scan", "g-cache", "g-py")] == [3, 5, 2]
    assert [groups[g]["tasks"] for g in ("g-scan", "g-cache", "g-py")] == [3, 5, 3]


def test_scan_bytes_count_file_scans_not_cache_reads(groups):
    # one 3690-byte file; the cached frame is scanned once for two counts
    assert groups["g-scan"]["scan_bytes"] == 3690
    assert groups["g-cache"]["scan_bytes"] == 3690
    assert groups["g-py"]["scan_bytes"] == 0
    # task input bytes also count the cached blocks the second count read
    assert groups["g-cache"]["input_bytes"] > groups["g-cache"]["scan_bytes"]


def test_python_time_only_where_python_runs(groups):
    assert groups["g-scan"]["python_s"] == 0 == groups["g-cache"]["python_s"]
    assert groups["g-py"]["python_s"] == pytest.approx(3.211)
    # Python time is part of the tasks' run time
    assert groups["g-py"]["python_s"] <= groups["g-py"]["run_s"]


def test_units(groups):
    g = groups["g-scan"]
    assert g["run_s"] == pytest.approx(0.73)
    assert g["exec_cpu_s"] == pytest.approx(0.678738727)
    assert g["gc_s"] == pytest.approx(0.026)
    assert g["shuffle_write_bytes"] == 185
    assert all(groups[k]["spill_bytes"] == 0 for k in groups)


def test_jobs_without_a_group_are_kept_apart():
    lines = [
        '{"Event":"SparkListenerJobStart","Job ID":0,"Stage IDs":[0],"Properties":{}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":0,"Task Metrics":'
        '{"Executor Run Time":5}}',
    ]
    out = eventlog.group_metrics(lines)
    assert out[""]["jobs"] == 1 and out[""]["run_s"] == pytest.approx(0.005)


def test_find_log_wants_one_uncompressed_file(tmp_path):
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "app-1.zstd").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "app-1.zstd").unlink()
    (tmp_path / "local-1").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(tmp_path / "local-1")
