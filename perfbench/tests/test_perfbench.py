"""Tests of the benchmark itself: inputs, metric names, the failure exit.

    python3 -m pytest perfbench/tests -q

``test_run_prints_every_metric`` starts Spark and takes about two
minutes; the others take seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.metrics import per_layer_names  # noqa: E402
from perfbench.trace import parse_metric  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# the smallest fixture: input properties do not depend on the scale
SMALL = os.path.join(inputs.fixture_root(), "sf0.001")


def _files(d: str) -> dict[str, bytes]:
    from sd2_drp_experimentgen_spark.schemas import TABLE_NAMES

    return {t: open(os.path.join(d, f"{t}.parquet"), "rb").read() for t in TABLE_NAMES}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = inputs.build(str(tmp_path / "a"), 7, SMALL)
    b = inputs.build(str(tmp_path / "b"), 7, SMALL)
    assert _files(a) == _files(b)


def test_other_seed_reorders_rows_with_identical_oracle_results(tmp_path):
    from sd2_drp_experimentgen_spark.plans import all_specs
    from tools.verify_local import duck_connect

    a = inputs.build(str(tmp_path / "a"), 7, SMALL)
    b = inputs.build(str(tmp_path / "b"), 8, SMALL)
    ta = pq.read_table(os.path.join(a, "lineitem.parquet"))
    tb = pq.read_table(os.path.join(b, "lineitem.parquet"))
    assert not ta.equals(tb)
    keys = [(c, "ascending") for c in ta.column_names]
    assert ta.sort_by(keys).equals(tb.sort_by(keys))
    specs = all_specs()
    con_a, con_b = duck_connect(a), duck_connect(b)
    for name in {q for qs in WORKLOADS.values() for q in qs}:
        oracle = specs[name].oracle
        assert oracle is not None, f"{name} has no DuckDB oracle to check against"
        ra = sorted(map(repr, con_a.sql(oracle).fetchall()))
        rb = sorted(map(repr, con_b.sql(oracle).fetchall()))
        assert ra == rb, name


def test_input_set_is_rebuilt_from_another_fixture(tmp_path):
    d = str(tmp_path / "d")
    inputs.build(d, 7, SMALL)
    small = inputs.read_signature(d)
    inputs.build(d, 7, os.path.join(inputs.fixture_root(), "sf0.01"))
    assert inputs.read_signature(d) != small
    assert pq.read_metadata(os.path.join(d, "lineitem.parquet")).num_rows > pq.read_metadata(
        os.path.join(SMALL, "lineitem.parquet")
    ).num_rows


@pytest.mark.parametrize(
    ("entry", "owned"),
    [
        ("pb_sd2_etl_s1", True),
        ("stream_events_pb_sd2_etl_s1", True),
        ("state_reader_pb_sd2_etl_s1_ckpt", True),
        ("pb_sd2_etl_s10", False),
        ("stream_events_pb_sd2_etl_s100", False),
    ],
)
def test_scratch_entries_match_their_seed_exactly(entry, owned):
    assert inputs.owns(entry, "pb_sd2_etl_s1") is owned


def test_benchmark_json_names_match_the_code():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in BENCH["per_layer"]] == per_layer_names()
    assert [m["name"] for m in BENCH["end_to_end"]] == [
        "setup_s", "first_pass_s", "warm_pass_s", "ok_share",
    ]  # fmt: skip


@pytest.mark.parametrize(
    ("text", "value"),
    [
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)", 2.0 * 2**20),
        ("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, ...)", 1500.0),
        ("total (min, med, max (stageId: taskId))\n12 ms (0 ms, ...)", 12.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == value


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        skip = shutil.ignore_patterns("__pycache__")
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=skip)
    proc = subprocess.run(
        [*BENCH["command"], "--workload", "sd2_etl", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )  # fmt: skip
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(trace):
    proc = subprocess.run(
        [*BENCH["command"], "--workload", "llm_corpus", "--seed", "5", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )  # fmt: skip
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m: v["unit"] for m, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
