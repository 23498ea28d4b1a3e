"""Tests of the benchmark's own parts; none of them starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import check
import gen
import run
import trace
from tools.check_oracle import norm_rows

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as fh:
                out[os.path.relpath(os.path.join(d, n), root)] = fh.read()
    return out


@pytest.mark.parametrize(
    "make",
    [
        lambda root, seed: gen.make_scenes(root, seed),
        lambda root, seed: gen.make_doc_batches(root, seed, 3, batch_size=50),
        lambda root, seed: gen.make_warehouse(root, seed),
    ],
    ids=["scenes", "doc_batches", "warehouse"],
)
def test_generators_are_deterministic(make, tmp_path):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_doc_batches_plant_near_duplicates(tmp_path):
    (path,), planted = gen.make_doc_batches(str(tmp_path / "d"), 1, 1, batch_size=400)
    texts = pq.read_table(path)["text"].to_pylist()
    assert 0.08 < len(planted) / len(texts) < 0.25
    for dup, src in planted:
        assert src < dup and texts[dup].rsplit(" ", 1)[0] == texts[src]


def _scene(tmp_path):
    """Two good files, one with an all-zero band, one undecodable."""
    d = tmp_path / "scene"
    d.mkdir()
    rng = np.random.default_rng(0)
    for i in range(3):
        bands = rng.uniform(1, 9, (6, 4, 5)).astype("f4")
        bands[0, 0, :] = 0.0
        if i == 2:
            bands[3] = 0.0
        (d / f"f{i}.ftif").write_bytes(gen.ftif_bytes(bands))
    (d / "bad.ftif").write_bytes(b"not an image")
    return str(d)


def test_raster_oracle_handles_nodata_and_undecodable(tmp_path):
    means = check.file_band_means(_scene(tmp_path))
    assert all(means["bad.ftif", b] == 0.0 for b in range(1, 7))
    assert means["f2.ftif", 4] == 0.0
    assert means["f0.ftif", 1] > 1.0  # the zero row is left out, not averaged in
    exp = check.raster_stats_expected(str(tmp_path / "scene"))
    assert [r[4] for r in exp] == [4] * 6


def test_raster_check_rejects_perturbed_result(tmp_path):
    exp = check.raster_stats_expected(_scene(tmp_path))
    assert check.check_raster_stats([tuple(r) for r in exp], exp) == []
    bad = [list(r) for r in exp]
    bad[2][3] *= 1 + 1e-6
    assert check.check_raster_stats([tuple(r) for r in bad], exp)
    bad = [list(r) for r in exp]
    bad[0][4] += 1
    assert check.check_raster_stats([tuple(r) for r in bad], exp)
    assert check.check_raster_stats([tuple(r) for r in exp[:-1]], exp)


def test_components_match_the_dedup_clusters_oracle(tmp_path):
    import duckdb

    import __spark_entry__ as entry

    rng = np.random.default_rng(3)
    texts = [" ".join(rng.choice(gen.WORDS, 12)) for _ in range(40)]
    texts += [t + " dup" for t in texts[:10]] + [texts[3] + " dup dup"]
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": list(range(len(texts))), "text": texts}), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    oracles = entry.oracle_sql()
    pairs = con.sql(oracles["dedup_minhash_lsh"]).fetchall()
    rows = con.sql(oracles["dedup_clusters"]).fetchall()
    assert len(rows) > 10
    assert check.components(pairs) == rows


def test_query_check_rejects_perturbed_result():
    cols, rows = ["k", "v"], [("a", 1.5), ("b", 2.0)]
    assert check.check_query(cols, rows[::-1], ["v", "k"], [(2.0, "b"), (1.5, "a")], norm_rows) == []
    assert check.check_query(cols, [("a", 1.5), ("b", 2.0001)], cols, rows, norm_rows)
    assert check.check_query(cols, rows[:1], cols, rows, norm_rows)
    assert check.check_query(["k", "w"], rows, cols, rows, norm_rows)


def test_ingest_check_rejects_perturbed_report():
    exp = [(1, None), (2, 1), (3, None)]
    assert check.check_ingest(exp[::-1], exp) == []
    assert check.check_ingest([(1, None), (2, None), (3, None)], exp)
    assert check.check_ingest(exp[:2], exp)


def test_ingest_expected_takes_the_smallest_mate_below():
    exp = check.ingest_expected([(1, 3), (2, 3), (1, 2), (3, 4)], range(1, 6))
    assert exp == {1: None, 2: 1, 3: 1, 4: 3, 5: None}


def test_planted_check_rejects_an_all_clean_report():
    planted = [(2, 1), (4, 3)]
    report = [(1, None), (2, 1), (3, None), (4, 3)]
    assert check.check_planted(report, planted, 0.9) == []
    assert check.check_planted([(d, None) for d, _ in report], planted, 0.9)
    assert check.check_planted(report[:3] + [(4, None)], planted, 0.9)


def test_latency_tail_keeps_ten_samples_above():
    lat = [float(i) for i in range(30)]
    value, pct, above = run.latency_tail(lat)
    assert (pct, above) == (65.5, 10)
    assert value == pytest.approx(19.0, abs=0.3)
    assert run.latency_tail(lat[:21])[1:] == (50.0, 10)
    # too few samples for a tail above the median: the maximum is reported
    assert run.latency_tail([3.0, 1.0, 2.0, 5.0, 4.0]) == (5.0, 100.0, 0)


def test_hd_quantile_is_a_smooth_quantile():
    assert run.hd_quantile([2.5] * 9, 0.5) == pytest.approx(2.5)
    assert run.hd_quantile([float(i) for i in range(11)], 0.5) == pytest.approx(5.0)
    # two request kinds of ten samples each: the sample median jumps from
    # 1.5 to 2.0 when one sample changes sides; the estimate moves less
    kinds = [1.0] * 10 + [2.0] * 10
    moved = [1.0] * 9 + [2.0] * 11
    assert abs(run.hd_quantile(moved, 0.5) - run.hd_quantile(kinds, 0.5)) < 0.25


def test_self_times_add_up_to_the_request():
    S = trace.Span
    root = S("request", 0.0, 10.0, [
        S("plan", 0.0, 2.0),
        S("exec", 2.0, 10.0, [
            S("job", 3.0, 6.0, [S("stage", 3.5, 5.0), S("stage", 4.0, 5.5)]),
            S("job", 5.0, 9.0, [S("stage", 6.0, 9.5)]),  # sticks out of its job
        ]),
    ])
    st = trace.self_times(root)
    assert st["stage"] == pytest.approx(2.0 + 3.0)
    assert st["job"] == pytest.approx(1.0)  # 3-3.5, 5.5-6
    assert st["exec"] == pytest.approx(2.0)  # 2-3, 9-10
    assert sum(st.values()) == pytest.approx(10.0)


def test_event_log_spans_and_write_targets(tmp_path):
    plan = (
        "== Physical Plan ==\n(3) Execute InsertIntoHadoopFsRelationCommand\n"
        "Input: []\nArguments: file:/w/report/batch0, false, Parquet, [], Overwrite, [a]\n"
    )
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "req1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 5e8, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1100, "Completion Time": 1500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        # job 1 reuses stage 0's shuffle output and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1700,
         "Stage IDs": [0, 2], "Properties": {"spark.jobGroup.id": "req1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 1700, "Completion Time": 1900}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1900},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 4, "time": 1000, "physicalPlanDescription": plan},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
         "executionId": 4, "time": 1900},
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    log = trace.parse_event_log(str(tmp_path))
    jobs = trace.jobs_of(log, "req1")
    assert [j["stages"] for j in jobs] == [[0, 1], [2]]
    assert jobs[0]["metrics"] == {
        "tasks": 1, "cpu_s": 0.5, "gc_s": 0.01, "shuffle_write_bytes": 100, "spill_bytes": 0,
    }
    assert log.sql[4]["target"] == "/w/report/batch0"
    tree = trace.request_tree(log, "req1", 0.9, 2.0, [trace.Span("exec", 0.95, 2.0)])
    st = trace.self_times(tree)
    assert st["stage"] == pytest.approx(0.6)
    assert sum(st.values()) == pytest.approx(1.1)


def test_overlapping_jobs_without_phases_both_count():
    log = trace.EventLog(jobs={
        0: {"group": "g", "start": 1.0, "end": 1.6, "stages": []},
        1: {"group": "g", "start": 1.2, "end": 2.0, "stages": []},
    })
    st = trace.self_times(trace.request_tree(log, "g", 0.9, 2.1, []))
    assert st["request"] == pytest.approx(0.2)
    assert st["job"] == pytest.approx(1.0)


def test_output_names_every_metric_with_its_unit():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for key, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        assert declared == units
        reqs = [run.Request("r", 1), run.Request("r", 1)]
        reqs[1].failed = True
        line = run.result_line(reqs, {k: 1.0 for k in units}, units)
        assert line["attempted"] == 2 and line["failed"] == 1 and not line["correct"]
        assert {k: v["unit"] for k, v in line["metrics"].items()} == declared
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
