"""The benchmark's own tests: metric-name lint, generator determinism, a
tiny end-to-end smoke run of every workload, and proof that a wrong
expected result is counted as a failure.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics  # noqa: E402
from perfbench.workloads import WORKLOADS, tail_percentile  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lint():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    assert 2 <= len(b["workloads"]) <= 8
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [
        w["name"] for w in b["workloads"]
    ]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in WORKLOADS
        assert "\n" not in w["why"] and len(w["why"]) <= 200
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])


def test_benchmark_json_matches_metric_definitions():
    b = _bench()
    assert b["end_to_end"] == [dict(m) for m in metrics.END_TO_END]
    assert b["per_layer"] == [dict(m) for m in metrics.PER_LAYER]


def test_etl_generator_is_seeded():
    a, b, c = (gen.EtlGenerator(s, 20) for s in (7, 7, 8))
    for _ in range(2):
        ba, bb, bc = a.batch(), b.batch(), c.batch()
        assert ba.csv == bb.csv and ba.expected == bb.expected
        assert ba.csv != bc.csv
        # same shape: the row counts per table are a function of the size
        assert {t: x["rows_in"] for t, x in ba.expected.items()} == {
            t: x["rows_in"] for t, x in bc.expected.items()
        }
    assert a.expected_tables() == b.expected_tables()


def test_etl_generator_seeds_dirty_duplicate_and_orphan_rows():
    g = gen.EtlGenerator(3, 200)
    g.batch()
    b = g.batch()
    items = b.expected["order_items"]
    lines = b.csv["order_items"].splitlines()[1:]
    assert items["rows_in"] == len(lines)
    dirty = sum("invalid_timestamp" in x or ",x" in x or x.startswith(",") for x in lines)
    assert 0.03 * len(lines) < dirty < 0.08 * len(lines)
    # rejects = dirty rows + FK orphans (duplicates collapse, not reject)
    assert items["rows_rejected"] > dirty


def test_star_schema_and_change_feed_are_seeded(tmp_path):
    for s in (1, 1, 2):
        gen.write_star_schema(str(tmp_path / f"s{s}"), s, 0.001)
    one = (tmp_path / "s1" / "lineitem.parquet").read_bytes()
    assert one == (tmp_path / "s1" / "lineitem.parquet").read_bytes()
    assert one != (tmp_path / "s2" / "lineitem.parquet").read_bytes()
    f1, f2, f3 = (gen.change_feed(s, 3, 100, 20, 3) for s in (5, 5, 6))
    assert f1.files == f2.files and f1.minmax == f2.minmax and f1.topk == f2.topk
    assert f1.files != f3.files and len(f3.files) == 3 and f3.n_changes == 300


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 5)["pct"] == 50
    t = tail_percentile([float(i) for i in range(100)])
    assert t["pct"] == 90 and t["n"] == 100  # p90: samples 91..100 lie beyond


def _run(workload: str, *extra: str) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_untraced(workload):
    res, details = _run(workload, "--trace", "0")
    assert res["correct"] and res["failed"] == 0, details["errors"]
    assert set(res["metrics"]) == {m["name"] for m in metrics.END_TO_END}
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name


def test_smoke_traced_reports_every_layer_metric():
    """Every per-layer metric is reported, and each one reads non-zero on at
    least one workload of BENCHMARK.json: every listed layer is measured."""
    seen = set()
    for w in (x["name"] for x in _bench()["workloads"]):
        res, details = _run(w, "--trace", "1")
        assert res["correct"], details["errors"]
        assert set(res["metrics"]) == {m["name"] for m in metrics.PER_LAYER}
        assert details["layers"][0]["self_s"] >= details["layers"][-1]["self_s"]
        seen |= {n for n, m in res["metrics"].items() if m["value"]}
    assert seen == {m["name"] for m in metrics.PER_LAYER}


def test_units_follow_metric_names():
    units = {m["name"]: m["unit"] for m in metrics.PER_LAYER}
    assert units["loop.items_per_s"] == "1/s"
    assert units["loop.op_s_p50"] == "s"
    assert units["operators.merge.merge_upsert.bytes_written"] == "bytes"


def test_wrong_expectation_counts_as_failure(monkeypatch):
    """A deliberately wrong expected result must drive the failure count up:
    the checks can fail."""
    from perfbench import run

    real = gen.EtlGenerator.batch

    def wrong(self):
        b = real(self)
        b.expected["products"]["rows_written"] += 1
        return b

    monkeypatch.setattr(gen.EtlGenerator, "batch", wrong)
    res, details = run.run("etl_upsert", 3, 1, trace=False, size="tiny")
    assert not res["correct"]
    assert res["failed"] >= 2  # the set-up batch and the timed batch
    assert res["metrics"]["success_rate"]["value"] < 1.0
