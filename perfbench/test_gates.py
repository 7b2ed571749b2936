"""Tests of the benchmark's own gates and bookkeeping (no Spark needed).

    python3 -m pytest perfbench/test_gates.py -q

Each gate must pass on the right expectation and fail on a wrong one.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _ops(path, rows):
    gen.write_parquet(
        str(path),
        pa.table(
            {k: [r[i] for r in rows] for i, k in enumerate(("k", "seq", "op", "v"))},
            schema=gen.CDC_SCHEMA,
        ),
    )
    return str(path)


def test_cdc_model_is_per_key_argmax_across_out_of_order_files(tmp_path):
    a = _ops(tmp_path / "a.parquet", [(1, 5, "U", 1.0), (2, 9, "D", None), (3, 2, "U", 3.0)])
    b = _ops(tmp_path / "b.parquet", [(1, 4, "U", 9.0), (2, 7, "U", 2.0), (3, 8, "D", None)])
    assert checks.cdc_model([a, b]) == {1: (5, "U", 1.0), 2: (9, "D", None), 3: (8, "D", None)}


def test_cdc_gate_passes_on_the_right_model_and_fails_on_a_wrong_one(tmp_path):
    a = _ops(tmp_path / "a.parquet", [(1, 5, "U", 1.0), (2, 9, "D", None)])
    model = checks.cdc_model([a])
    rows = [{"k": 1, "seq": 5, "op": "U", "v": 1.0}, {"k": 2, "seq": 9, "op": "D", "v": None}]
    assert checks.cdc_state_mismatch(rows, model) == []
    wrong_seq = {**model, 1: (4, "U", 1.0)}
    assert checks.cdc_state_mismatch(rows, wrong_seq)
    missing_key = {**model, 3: (1, "U", 0.0)}
    assert checks.cdc_state_mismatch(rows, missing_key)
    delete_ignored = {1: (5, "U", 1.0), 2: (8, "U", 2.0)}
    assert checks.cdc_state_mismatch(rows, delete_ignored)


def test_generated_stream_delivers_seqs_out_of_order():
    stream = gen.CdcStream(seed=3, n_keys=100, ops_per_file=200)
    stream.base()
    first, second = stream.next_file(), stream.next_file()
    assert min(second.column("seq").to_pylist()) < max(first.column("seq").to_pylist())
    ops = first.column("op").to_pylist()
    assert 0.03 < ops.count("D") / len(ops) < 0.2


def test_oracle_gate_passes_on_the_right_rows_and_fails_on_wrong_ones(tmp_path):
    pq.write_table(pa.table({"x": [1, 2, 2], "y": [0.5, 1.5, 2.5]}), tmp_path / "t.parquet")
    sql = "SELECT x, SUM(y) AS s FROM t GROUP BY x"
    right = [(2, 4.0), (1, 0.5)]
    assert checks.oracle_mismatch(str(tmp_path), ("t",), sql, ["x", "s"], right) is None
    assert checks.oracle_mismatch(str(tmp_path), ("t",), sql, ["x", "s"], [(2, 4.0), (1, 0.6)])
    assert checks.oracle_mismatch(str(tmp_path), ("t",), sql, ["x", "s"], right[:1])
    assert checks.oracle_mismatch(str(tmp_path), ("t",), sql, ["x", "z"], right)


def test_union_and_attribution_split_wall_time_into_jobs_and_gap():
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert tracing.union_s([(0, 2)], 1, 10) == pytest.approx(1.0)
    spans = [{"id": 1, "name": "a", "start": 0.0, "end": 10.0, "dur": 10.0},
             {"id": 2, "name": "b", "start": 10.0, "end": 12.0, "dur": 2.0,
              "stream_run_id": "run-x"}]
    jobs = [{"group": "perfbench:1", "start": 1.0, "end": 4.0},
            {"group": "run-x", "start": 10.5, "end": 11.0},
            {"group": None, "start": 2.0, "end": 3.0}]
    tracing.attribute(spans, jobs)
    assert (spans[0]["n_jobs"], spans[0]["gap_s"]) == (1, pytest.approx(7.0))
    assert (spans[1]["n_jobs"], spans[1]["gap_s"]) == (1, pytest.approx(1.5))
    assert jobs[2]["span"] is None


def test_tail_needs_ten_samples_beyond_it():
    assert tracing.tail(range(10))[1] == 0
    value, pct, n = tracing.tail(range(100))
    assert (pct, n) == (90, 100) and value == 89


def test_benchmark_json_matches_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


def test_timed_rounds_are_fixed_by_seconds_not_the_clock():
    assert run.timed_rounds(1, 7.0) == run.MIN_ROUNDS == 2
    assert run.timed_rounds(15, 7.0) == 2
    assert run.timed_rounds(60, 7.0) == 9
