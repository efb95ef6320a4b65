"""Self-tests of the benchmark (not of the program).

    python3 -m pytest dedupbench/tests -q

The generator and span tests are fast.  The end-to-end tests run the
benchmark itself once per workload (a traced dedup_batch run and an
untraced gate_json_intake run, about three minutes together on a 4-core
host) and check its printed result against BENCHMARK.json.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)


@pytest.mark.parametrize("dataset", sorted(gen.DATASETS))
def test_seed_fixes_input_bytes(dataset, tmp_path):
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        gen.write_dataset(dataset, seed, str(tmp_path / name))
    for f in ("input.parquet", "truth.json"):
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False)
        assert not filecmp.cmp(tmp_path / "a" / f, tmp_path / "c" / f, shallow=False)


def test_images_truth_is_planted():
    cols, truth = gen.images_rows(3, n_valid=2000)
    assert truth["rows"] == len(cols["image_id"]) == len(set(cols["image_id"]))
    assert set(truth["pair_kinds"]) == {"exact", "caption", "phash", "substring"}
    assert 0.07 < sum(truth["malformed"].values()) / truth["rows"] < 0.09


def test_json_truth_covers_every_defect():
    _, truth = gen.json_rows(3, n_rows=5000)
    assert {r for _, r in gen._JSON_DEFECTS} | {"None"} == set(truth["histogram"])
    assert sum(truth["histogram"].values()) == truth["rows"]


def test_units_in_code_match_spec():
    import run

    assert run.E2E_UNITS == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    for m in SPEC["per_layer"]:
        assert run.layer_unit(m["name"]) == m["unit"], m["name"]


class _FakeSC:
    def setJobGroup(self, group, desc):
        pass

    def setLocalProperty(self, key, value):
        pass


class _FakeSpark:
    sparkContext = _FakeSC()


def test_tracer_reconciles(monkeypatch):
    def slow_metrics(spark, group):
        time.sleep(0.05)  # benchmark-side: must not count in the job wall
        return {"spark_jobs": 1}

    monkeypatch.setattr(spans, "group_metrics", slow_metrics)
    tr = spans.Tracer(_FakeSpark(), "t")
    with tr.job():
        with tr.layer("a"):
            time.sleep(0.05)
        time.sleep(0.02)  # driver-side gap between layers
        with tr.aside():
            time.sleep(0.05)
        with tr.layer("b"):
            time.sleep(0.03)
    assert tr.job_wall_s == pytest.approx(tr.layer_sum_s() + tr.driver_gap_s())
    assert tr.driver_gap_s() == pytest.approx(0.02, abs=0.015)
    assert tr.job_wall_s == pytest.approx(0.10, abs=0.03)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400, check=True,
    )
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["run_record"], json.loads(lines[-1])


@pytest.fixture(scope="module")
def traced_dedup():
    return _run("dedup_batch", 1)


@pytest.fixture(scope="module")
def plain_gate():
    return _run("gate_json_intake", 0)


def _check_result(result: dict, declared: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }


def test_end_to_end_metrics_match_spec(plain_gate):
    record, result = plain_gate
    _check_result(result, SPEC["end_to_end"])
    assert result["metrics"]["ok_job_ratio"]["value"] == 1.0
    assert result["metrics"]["truth_recall"]["value"] == 1.0


def test_layer_metrics_match_spec(traced_dedup):
    _check_result(traced_dedup[1], SPEC["per_layer"])


def test_traced_walls_reconcile(traced_dedup):
    layers = traced_dedup[0]["layers"]
    walls = sum(layers[k] for k in (
        "gate.wall_s", "minhash.wall_s", "lsh.wall_s", "verify.wall_s", "phash.wall_s",
        "substring.wall_s", "pipeline.edge_union_s", "components.wall_s",
        "pipeline.label_join_s",
    ))
    assert walls + layers["pipeline.driver_gap_s"] == pytest.approx(
        layers["trace.job_wall_s"], rel=1e-6
    )
    assert 0 <= layers["pipeline.driver_gap_s"] < 0.2 * layers["trace.job_wall_s"]
    checks = {c["check"]: c["ok"] for c in traced_dedup[0]["checks"]}
    assert checks["traced_labels_equal_untraced"]
    assert checks["resumable_labels_equal_dedup"]
