"""Trace arithmetic of the benchmark, checked against a small fixture: span
records as a traced run keeps them plus event-log lines in Spark's format.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import (  # noqa: E402
    Tracer,
    commit_delta,
    layer_metrics,
    op_table,
    parse_event_log,
    self_times,
)

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "trace_small.json")


@pytest.fixture(scope="module")
def fx():
    with open(FIXTURE) as f:
        data = json.load(f)
    data["events"] = parse_event_log(data["event_log"])
    return data


@pytest.fixture(scope="module")
def layers(fx):
    return layer_metrics(fx["spans"], fx["events"], tuple(fx["window"]), fx["cores"])


def test_self_time_subtracts_the_union_of_children(fx):
    st = self_times(fx["spans"])
    assert st[0] == pytest.approx(10 - (3 + 4))  # op: build 1-4, execute 5-9
    assert st[1] == pytest.approx(3 - 1.5)  # build: loads 2-3 and 2.5-3.5 overlap
    assert st[2] == pytest.approx(1.0) and st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(10 - 9)  # children tile 10.5-19.5
    assert st[6] == pytest.approx(5.5 - 3)  # promote minus its nested write


def test_event_log_reduces_to_jobs_stages_tasks(fx):
    ev = fx["events"]
    assert sorted(ev["jobs"]) == [0, 1, 2, 3, 4, 5]
    assert ev["jobs"][0]["group"] == "pb3" and ev["jobs"][4]["group"] is None
    assert len(ev["stages"]) == 5 and len(ev["tasks"]) == 7
    # tasks take the group of the stage that ran them
    assert [t["group"] for t in ev["tasks"]] == ["pb3", "pb3", "pb4", "pb4", "pb4", "pb7", None]
    assert [t["failed"] for t in ev["tasks"]].count(True) == 1


def test_spark_totals_inside_the_window_only(layers):
    assert layers["spark.jobs"] == 5  # job 5 starts after the window
    assert layers["spark.stages"] == 5
    assert layers["spark.tasks"] == 7
    assert layers["spark.task_s"] == pytest.approx(3.5)
    assert layers["spark.cpu_s"] == pytest.approx(2.65)
    assert layers["spark.gc_s"] == pytest.approx(0.18)
    assert layers["spark.input_mb"] == pytest.approx(4.0)
    assert layers["spark.shuffle_write_mb"] == pytest.approx(0.5)
    assert layers["spark.shuffle_read_mb"] == pytest.approx(0.5)
    assert layers["spark.spill_mb"] == pytest.approx(2.0)
    assert layers["spark.failed_tasks"] == 1


def test_ratio_bases(layers):
    # busy ratio: task seconds over cores x pass seconds (4 x 20)
    assert layers["spark.busy_ratio"] == pytest.approx(3.5 / 80)
    # idle: pass minus the union of job intervals
    # [3,3.4] + [5,8.5] + [12,13.5] + [19.6,19.8] = 5.6 s busy
    assert layers["driver.idle_exec_s"] == pytest.approx(20 - 5.6)
    # files read over files total, summed over both read_point calls
    assert layers["ops.incremental.read_point.files_read_ratio"] == pytest.approx(3 / 16)
    # rewritten over rewritten + linked
    assert layers["ops.incremental.merge_in.files_rewritten_ratio"] == pytest.approx(1 / 4)
    # no read_in call: the ratio has no base and reads 0
    assert layers["ops.incremental.read_in.files_read_ratio"] == 0.0


def test_layer_attribution(layers):
    assert layers["catalog.load_table.calls"] == 2
    assert layers["catalog.load_table.s"] == pytest.approx(2.0)
    assert layers["queries.build_s"] == pytest.approx(3.0)
    assert layers["queries.build.py4j_calls"] == 5 + 7 + 4  # build and its children
    assert layers["queries.build.jobs"] == 1  # the probe job under a load span
    assert layers["ops.incremental.promote_with_validation.calls"] == 1
    assert layers["ops.incremental.promote_with_validation.jobs"] == 2
    assert layers["ops.incremental.write.calls"] == 1  # nested in promote, still a write
    assert layers["ops.incremental.write.s"] == pytest.approx(3.0)
    assert layers["ops.incremental.write.jobs"] == 2
    assert layers["ops.incremental.read_point.calls"] == 2
    assert layers["ops.storage_commit.bytes_written"] == 1500
    assert layers["ops.storage_commit.data_files_written"] == 3
    assert layers["ops.storage_commit.meta_files_written"] == 3
    assert layers["pipelines.run_etl_pipeline.s"] == 0


def test_op_table_charges_jobs_and_tasks_to_ops(fx):
    lo, hi = fx["window"]
    spans = [s for s in fx["spans"] if s["start"] >= lo and s["end"] <= hi]
    rows = op_table(spans, fx["events"])
    assert set(rows) == {"q1", "store"}
    assert rows["q1"]["jobs"] == 2 and rows["q1"]["py4j"] == 21
    assert rows["q1"]["build_s"] == pytest.approx(3.0)
    assert rows["q1"]["task_s"] == pytest.approx(3.0)
    assert rows["q1"]["shuffle_mb"] == pytest.approx(1.0)
    assert rows["store"]["jobs"] == 2 and rows["store"]["task_s"] == pytest.approx(0.4)


def test_commit_delta_skips_hard_links():
    before = {"t/v1/part-0.parquet": (1, 10), "t/_pointer.json": (2, 20)}
    after = dict(before)
    after.update({
        "t/v2/part-1.parquet": (3, 30),  # written
        "t/v2/part-0.parquet": (1, 10),  # hard link to v1's file
        "t/v2/_manifest.json": (4, 5),  # written metadata
        "t/_pointer.json": (5, 25),  # replaced in place
        "t/_bloom/v0002.parquet": (6, 7),  # index file: metadata, not data
    })
    assert commit_delta(before, after) == {
        "bytes_written": 30 + 5 + 25 + 7, "data_files_written": 1, "meta_files_written": 3,
    }


class _FakeContext:
    def __init__(self, tracer_ref):
        self.calls = []
        self.tracer_ref = tracer_ref

    def _send(self):
        self.tracer_ref[0].count_py4j()  # what the wrapped py4j client does

    def setJobGroup(self, group, description):
        self._send()
        self.calls.append(("group", group, description))

    def setLocalProperty(self, key, value):
        self._send()
        self.calls.append(("prop", key, value))


def test_tracer_sets_and_restores_job_groups_without_counting_itself():
    ref = [None]
    sc = _FakeContext(ref)
    tr = Tracer(sc)
    ref[0] = tr
    with tr.span("op", op="q") as outer:
        tr.count_py4j()
        with tr.span("queries.build") as inner:
            tr.count_py4j()
            tr.count_py4j()
    assert (outer["py4j"], inner["py4j"]) == (1, 2)
    assert inner["op"] == "q" and inner["parent"] == outer["id"]
    assert sc.calls[0] == ("group", "pb0", "q:op")
    assert sc.calls[1] == ("group", "pb1", "q:queries.build")
    assert sc.calls[2] == ("group", "pb0", "q:op")  # parent's group restored
    assert sc.calls[3][:2] == ("prop", "spark.jobGroup.id") and sc.calls[3][2] is None
    assert outer["end"] >= inner["end"] >= inner["start"] >= outer["start"]
