"""Tests of the benchmark's own machinery (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import concurrent.futures
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import oracle
import run as bench
import spans
import tracerun

SEQ_ROWS = [
    # doc_id, tokens, n_tok, source          first failing check
    ("a", None, None, "s1"),                 # null_payload
    ("b", [], 0, "s1"),                      # empty_payload
    ("c", [1] * 20, 20, None),               # null_key
    ("d", [1] * 20, 21, ""),                 # null_key (before inconsistent)
    ("e", [1] * 20, 19, "s2"),               # inconsistent_n_tok
    ("f", [1] * 5, 5, "s2"),                 # too_short
    ("g", [1] * 8300, 8300, "s2"),           # too_long
    ("h", [1] * 16, 16, "s1"),               # passes (boundary)
    ("i", [1] * 30, 30, "s1"),               # duplicate_key x2
    ("i", [2] * 30, 30, "s2"),
]
EXPECTED = {
    "null_payload": 1, "empty_payload": 1, "null_key": 2,
    "inconsistent_n_tok": 1, "too_short": 1, "too_long": 1, "duplicate_key": 2,
}


def _write_sequences(path):
    cols = list(zip(*SEQ_ROWS))
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array(cols[0]), pa.array(cols[1], pa.list_(pa.int32())),
             pa.array(cols[2], pa.int32()), pa.array(cols[3])],
            schema=gen.SEQ_SCHEMA,
        ),
        path,
    )


def _write_job_output(out_dir, run_id, by_check):
    """A violations table (hive layout) and a verdicts table as a job
    would leave them."""
    rows = [(f"doc{n}_{i}", "s1", name) for name, n in by_check.items() for i in range(n)]
    vdir = os.path.join(out_dir, "violations", "source_dir=s1")
    os.makedirs(vdir)
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in rows], "source": [r[1] for r in rows],
                  "check_name": [r[2] for r in rows]}),
        os.path.join(vdir, "part-0.parquet"),
    )
    os.makedirs(os.path.join(out_dir, "verdicts", run_id))
    pq.write_table(
        pa.table({"source": ["s1", "s2", None, ""]}),
        os.path.join(out_dir, "verdicts", run_id, "part-0.parquet"),
    )


@pytest.fixture
def seq_path(tmp_path):
    p = str(tmp_path / "seq.parquet")
    _write_sequences(p)
    return p


def test_oracle_derives_first_fail_counts(seq_path):
    exp = oracle.expected_violations(seq_path, gen.MIN_N_TOK, gen.MAX_N_TOK)
    assert exp["by_check"] == EXPECTED
    assert exp["rows"] == len(SEQ_ROWS)
    assert exp["partitions"] == 4  # s1, s2, NULL, ''
    assert exp["dup_keys"] == 1


def test_oracle_counts_duplicates_against_stored_keys(seq_path, tmp_path):
    stored = str(tmp_path / "stored.parquet")
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array(["h"]), pa.array([[1] * 16], pa.list_(pa.int32())),
             pa.array([16], pa.int32()), pa.array(["s9"])],
            schema=gen.SEQ_SCHEMA,
        ),
        stored,
    )
    exp = oracle.expected_violations(seq_path, gen.MIN_N_TOK, gen.MAX_N_TOK, stored_path=stored)
    assert exp["by_check"]["duplicate_key"] == 3
    assert exp["dup_keys"] == 2


def test_oracle_accepts_matching_output(seq_path, tmp_path):
    exp = oracle.expected_violations(seq_path, gen.MIN_N_TOK, gen.MAX_N_TOK)
    out = str(tmp_path / "out")
    _write_job_output(out, "r0", EXPECTED)
    report = {"validated_rows": len(SEQ_ROWS), "partitions": 4, "skipped": False}
    assert oracle.check_validate(report, out, "r0", exp) == []


@pytest.mark.parametrize(
    "altered",
    [
        {**EXPECTED, "too_short": 0, "too_long": 2},  # one row relabelled
        {**EXPECTED, "duplicate_key": 1},  # one row dropped
        {**EXPECTED, "banned_token": 1},  # one row added
    ],
)
def test_oracle_flags_altered_violations(seq_path, tmp_path, altered):
    exp = oracle.expected_violations(seq_path, gen.MIN_N_TOK, gen.MAX_N_TOK)
    out = str(tmp_path / "out")
    _write_job_output(out, "r0", altered)
    report = {"validated_rows": len(SEQ_ROWS), "partitions": 4, "skipped": False}
    assert oracle.check_validate(report, out, "r0", exp)


class _SkippingWorkload:
    """A resume job that comes back ``skipped`` although its partition
    is new — it did no work, so the oracle must fail it."""

    def __init__(self, out_dir, expected):
        self.out, self.expected = out_dir, expected

    def prepare(self, i):
        pass

    def out_dirs(self, i):
        return [self.out]

    def job(self, spark, i):
        return {"run_id": f"d{i}", "validated_rows": 0, "skipped": True}

    def check(self, report, i):
        return oracle.check_resume(report, self.out, f"d{i}", self.expected, "s1"), {}

    def rows(self, report):
        return report.get("validated_rows", 0)


class _NoSampler:
    def arm(self):
        pass

    def disarm(self):
        pass


def test_skipped_job_counts_as_failed(seq_path, tmp_path):
    exp = oracle.expected_violations(seq_path, gen.MIN_N_TOK, gen.MAX_N_TOK)
    out = str(tmp_path / "out")
    _write_job_output(out, "d0", EXPECTED)
    os.makedirs(os.path.join(out, "_validation_manifest"))
    pq.write_table(
        pa.table({"partition": ["s1"], "validated_at_run": ["base"]}),
        os.path.join(out, "_validation_manifest", "part-0.parquet"),
    )
    rec = bench.run_job(_SkippingWorkload(out, exp), None, 0, _NoSampler(), os.getpid())
    assert "job reported skipped" in rec["errors"]
    assert sum(1 for r in [rec] if r["errors"]) == 1


def _span(i, start, end, parent=None, layer="x"):
    return spans.Span(id=i, name=f"s{i}", layer=layer, start=start, end=end,
                      parent=parent, thread="t", job=0)


def test_self_time_with_overlapping_children():
    root = _span(1, 0.0, 10.0, layer="root")
    a = _span(2, 1.0, 5.0, parent=1, layer="a")
    b = _span(3, 3.0, 8.0, parent=1, layer="b")
    st = spans.self_times([root, a, b])
    assert st[1] == pytest.approx(3.0)  # 10 minus the union [1, 8]
    assert st[2] == pytest.approx(4.0)
    assert st[3] == pytest.approx(5.0)
    overlap = spans.parallel_overlap([root, a, b], root)
    assert overlap == pytest.approx(2.0)  # [3, 5] is counted twice
    assert sum(st.values()) - overlap == pytest.approx(10.0)
    assert spans.layer_self_times([root, a, b]) == pytest.approx({"root": 3.0, "a": 4.0, "b": 5.0})


def test_union_length():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_pool_threads_inherit_the_submitting_span():
    tpe = concurrent.futures.ThreadPoolExecutor
    orig = tpe.__dict__["submit"]
    tracer = spans.Tracer()
    tracer._wrap_pools()
    try:
        tracer.enabled = True
        tracer.job = 0

        def child():
            with tracer.span("child", "c"):
                pass

        with tracer.span("outer", "o") as outer:
            with concurrent.futures.ThreadPoolExecutor(2) as ex:
                for f in [ex.submit(child), ex.submit(child)]:
                    f.result()
    finally:
        tracer.uninstall()
    pool = next(s for s in tracer.spans if s.name == "pool")
    kids = [s for s in tracer.spans if s.name == "child"]
    assert pool.parent == outer.id
    assert len(kids) == 2 and all(k.parent == pool.id for k in kids)
    assert tpe.__dict__["submit"] is orig


def test_span_metrics_account_for_the_wall():
    root = spans.Span(id=1, name="job", layer="cli.untraced", start=0.0, end=10.0,
                      parent=None, thread="t", job=0)
    run = _span(2, 0.5, 9.5, parent=1, layer="cli.untraced")
    tail = _span(3, 6.0, 9.0, parent=2, layer="cli.tail")
    w1 = _span(4, 6.1, 8.0, parent=3, layer="states.write")
    w2 = _span(5, 6.2, 8.9, parent=3, layer="manifest.append")
    m = tracerun.span_metrics([root, run, tail, w1, w2], wall=10.0)
    assert m["trace.accounted_frac"] == pytest.approx(1.0)
    assert m["trace.other_s"] == pytest.approx(0.0)
    assert m["cli.tail_s"] == pytest.approx(3.0 - 2.8)
    assert m["trace.parallel_overlap_s"] == pytest.approx(1.8)


def test_spark_metrics_from_events():
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1500, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Submission Time": 9000, "Stage IDs": [2]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": ms, "Executor CPU Time": ms * 10**6, "JVM GC Time": 1,
            "Input Metrics": {"Bytes Read": 100}, "Output Metrics": {"Bytes Written": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5}}
        for ms in (100, 100, 100, 400)
    ]
    m = tracerun.spark_metrics(events, 1.0, 2.0, cores=4)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 1, 4)
    assert m["spark.executor_run_s"] == pytest.approx(0.7)
    assert m["spark.input_bytes"] == 400 and m["spark.spill_bytes"] == 20
    assert m["spark.core_busy_frac"] == pytest.approx(0.7 / 4)
    assert m["spark.max_task_skew"] == pytest.approx(4.0)


def test_generators_are_seeded():
    a, b = gen.sequences_table(5, 3000), gen.sequences_table(5, 3000)
    assert a.equals(b)
    assert not a.equals(gen.sequences_table(6, 3000))
    assert gen.documents_table(5, 50).equals(gen.documents_table(5, 50))


def test_every_metric_has_a_unit():
    units = tracerun.per_layer_units()
    assert len(units) == len(set(units))
    assert all(u for u in units.values())
    assert set(bench.E2E_UNITS) >= {"setup_s", "job_s_p50"}
    with open(os.path.join(os.path.dirname(bench.HERE), "BENCHMARK.json")) as f:
        cfg = json.load(f)
    assert {m["name"]: m["unit"] for m in cfg["end_to_end"]} == bench.E2E_UNITS
    assert {m["name"]: m["unit"] for m in cfg["per_layer"]} == units
