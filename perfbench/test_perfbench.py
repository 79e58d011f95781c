"""The benchmark's own tests: python3 -m pytest perfbench -q

The smoke tests start one Spark session per workload and mode, about a
minute each.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spec  # noqa: E402
import tracing  # noqa: E402
from run import measured_passes, p90  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_names_and_units():
    names = list(spec.WORKLOADS) + list(spec.END_TO_END) + list(spec.PER_LAYER)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for n, (unit, better, bound, meaning) in spec.END_TO_END.items():
        assert UNIT.match(unit) and better in ("lower", "higher") and 0 < bound <= 0.25, n
        assert meaning
    assert spec.END_TO_END["setup_s"][:3] == ("s", "lower", max(b for _, _, b, _ in spec.END_TO_END.values()))
    for why in spec.WORKLOADS.values():
        assert 0 < len(why) <= 200 and "\n" not in why


def test_every_layer_metric_maps_to_a_workload():
    for n, (unit, better, module, moves) in spec.PER_LAYER.items():
        assert UNIT.match(unit) and better in ("lower", "higher") and module, n
        assert moves.startswith("none:") or any(w in moves for w in spec.WORKLOADS), n


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == spec.benchmark_json()


def test_measured_passes():
    assert measured_passes(0, 4.0) == 3
    assert measured_passes(20, 4.0) == 5
    assert measured_passes(20, 6.5) == 3


def test_p90():
    assert p90([3.0, 1.0, 2.0]) == (3.0, 0)
    assert p90([float(i) for i in range(1, 41)]) == (36.0, 4)
    assert p90([0.3] * 7 + [1.5, 2.0]) == (2.0, 0)


def test_span_self_time_and_union():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.union_length([(0, 2)], 1, 10) == 1
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    assert tracing.self_times(spans) == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_parse_sql_metric():
    assert tracing.parse_sql_metric("0 ms") == 0.0
    assert tracing.parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                                    "3.5 m (6.0 s, 6.6 s, 7.0 s (stage 9.0: task 63))") == 210.0
    assert tracing.parse_sql_metric("total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB)") == 2048.0


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            with open(os.path.join(base, f), "rb") as fh:
                out[os.path.relpath(os.path.join(base, f), d)] = fh.read()
    return out


def test_generators_are_seeded(tmp_path):
    a = gen.company_increment(str(tmp_path / "a"), 5, 1, 0, 50, 20)
    b = gen.company_increment(str(tmp_path / "b"), 5, 1, 0, 50, 20)
    c = gen.company_increment(str(tmp_path / "c"), 6, 1, 0, 50, 20)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert a == b
    assert a["valid_active_abns"] != c["valid_active_abns"]
    xml = (tmp_path / "a" / "abr" / "part.xml").read_text()
    for status in ('status="Active"', 'status="ACT"', 'status="Cancelled"', "<LegalEntity>"):
        assert status in xml
    h1 = gen.headline_tables(str(tmp_path / "h1"), 5, 0.001)
    h2 = gen.headline_tables(str(tmp_path / "h2"), 5, 0.001)
    assert h1 == h2 and h1["rows"]["lineitem"] > 0


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def test_refuses_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = _run(["--workload", spec.HEADLINE, "--seed", "1", "--seconds", "1", "--trace", "0"],
             str(tmp_path))
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
def test_smoke_run(workload, trace):
    r = _run(["--workload", workload, "--seed", "11", "--seconds", "0", "--trace", str(trace)],
             ROOT)
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = spec.PER_LAYER if trace else spec.END_TO_END
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert m["unit"] == want[name][0]
        assert isinstance(m["value"], (int, float))
        if not trace:
            assert m["value"] > 0, name
