"""Tests of the benchmark itself. Run from the repo root:

    python3 -m pytest tokbench/tests -q

The smoke tests start a local Spark session and run each workload on a
tiny table, traced and untraced (a few minutes).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from tokbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from tokbench.tracing import Tracer, covered  # noqa: E402


class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


def test_self_time_subtracts_children():
    # root [0, 10) with children [1, 3) and [4, 8); grandchild [5, 6)
    tr = Tracer(clock=FakeClock([0, 1, 3, 4, 5, 6, 8, 10]))
    with tr.span("root") as root:
        with tr.span("a"):
            pass
        with tr.span("b") as b:
            with tr.span("c"):
                pass
    assert root.wall == 10
    assert tr.self_time(root) == 10 - 2 - 4
    assert tr.self_time(b) == 4 - 1
    assert tr.self_totals(tr.in_trace(root)) == {"root": 4, "a": 2, "b": 3, "c": 1}
    assert {s.trace for s in tr.spans} == {root.id}


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_patched_wraps_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    orig = Owner.f
    tr = Tracer()
    with tr.patched([(Owner, "f", "owner.f")]):
        assert Owner.f(1) == 2
        assert Owner.f is not orig
    assert Owner.f is orig
    assert [s.name for s in tr.spans] == ["owner.f"]


def test_span_cost_is_small_and_positive():
    from tokbench.layers import span_cost_s

    assert 0 < span_cost_s(2_000) < 1e-3


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from tokbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_refuses_to_run_without_the_engine(tmp_path):
    # a directory holding only the benchmark: no result, non-zero exit
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "tokbench"), tmp_path / "tokbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "tokbench/run.py", "--workload", "ingest_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_table_inputs_are_seeded(tmp_path):
    from tokbench.workloads import N_DELETE, make_table

    a = make_table(str(tmp_path / "a"), 600, seed=3, salt=1)
    b = make_table(str(tmp_path / "b"), 600, seed=3, salt=1)
    c = make_table(str(tmp_path / "c"), 600, seed=4, salt=1)
    assert a.arrow.equals(b.arrow) and a.delete_keys == b.delete_keys
    assert not a.arrow.equals(c.arrow)
    assert len(a.delete_keys) == N_DELETE
    assert a.lookup_keys(0) == b.lookup_keys(0) != a.lookup_keys(1)
    kinds = {kind for kind, _ in a.lookup_keys(0)}
    assert kinds == {"live", "deleted", "updated", "inserted", "absent"}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from tokbench import run

    build = str(tmp_path_factory.mktemp("build"))
    run.isolate(build)
    s = run.start_spark()
    yield s, build
    run.stop_spark(s)


@pytest.mark.parametrize("traced", [False, True])
@pytest.mark.parametrize("workload", ["ingest_scan", "stream_ingest"])
def test_tiny_workload_runs_clean(spark, monkeypatch, workload, traced):
    from tokbench import bench, workloads

    session, build = spark
    monkeypatch.setitem(workloads.WORKLOADS, workload, (600, workloads.WORKLOADS[workload][1]))
    out = bench.run(session, build, workload, seed=5, seconds=0.0,
                    traced=traced, t_start=0.0, spark_s=1.0)
    assert out["failed"] == 0
    assert out["attempted"] >= workloads.MIN_ROUNDS * (len(workloads.OPS) - 1 + workloads.LOOKUPS_PER_ROUND)
    names = PER_LAYER if traced else END_TO_END
    assert set(out["metrics"]) == set(names)
    assert all(math.isfinite(v) for v in out["metrics"].values())
    if not traced:
        assert all(v > 0 for v in out["metrics"].values())
    else:
        assert out["metrics"]["deletes.inline_mask"] == 1
        assert out["metrics"]["encode.tasks"] > 0
        assert out["metrics"]["plan.files_total"] > 0
        assert out["metrics"]["trace.overhead_s"] > 0
