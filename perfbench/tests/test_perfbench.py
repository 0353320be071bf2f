"""Tests of the benchmark itself: every workload runs at tiny scale, emits
every declared metric, and counts a wrong expected answer as a failure.

    python3 -m pytest perfbench/tests -q

Runs one local Spark session for the module (a few minutes on 4 cores).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# Per-layer metrics each workload must measure (non-zero after a run).
OWN_LAYERS = {
    "search_read": ["setup.build.postings_s", "setup.build.phrase_s",
                    "parse.ms", "construct.ms", "construct.py4j_calls",
                    "execute.ms", "execute.jobs", "execute.tasks",
                    "execute.rows_read_per_hit", "mem.pinned_mb",
                    "setup.build.tables_s", "ops.wall_s", "ops.geomean_s",
                    "ops.semantic_dedup.construct_s",
                    "ops.semantic_dedup.py4j_calls",
                    "ops.search_nested_agg.execute_s"],
    "mixed_read_write": ["setup.build.store_s", "search.p50_ms",
                         "write.batch_p50_ms", "write.store_ms",
                         "write.refresh_ms", "write.refresh_py4j_calls",
                         "write.probe_ms", "store.files_written",
                         "store.bytes_written", "store.bytes_per_user_byte",
                         "store.delta_rows", "store.tombstones",
                         "maintain.ms", "maintain.bytes_rewritten"],
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.configure_environment(tmp_path_factory.mktemp("bench_work"))
    session = run.start_spark()
    yield session
    run.stop_spark(session)


def _run(spark, tmp_path, workload: str, traced: bool, seed: int = 7):
    from common import Context
    from spans import Tracer

    ctx = Context(spark, seed, 0.1, Tracer(spark, traced), tmp_path,
                  tiny=True)
    return run.run_workload(workload, ctx)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric_and_is_correct(spark, tmp_path,
                                                    workload):
    res = _run(spark, tmp_path, workload, traced=True)
    assert res.attempted > 0
    assert res.failed == 0
    e2e = run.select_metrics(SPEC, res.metrics, traced=False)
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in e2e.values())
    res.metrics["setup.spark_s"] = 1.0
    for name in e2e:
        res.metrics["traced." + name] = res.metrics[name]
    layers = run.select_metrics(SPEC, res.metrics, traced=True)
    assert set(layers) == {m["name"] for m in SPEC["per_layer"]}
    zero = [k for k in OWN_LAYERS[workload] if not layers[k]["value"] > 0]
    assert not zero, f"{workload} did not measure {zero}"


@pytest.mark.parametrize("workload, traced, target, attr, wrong", [
    ("search_read", False, "search_read", "expected_answer",
     lambda engine, req: frozenset({("not-a-key", 0.0)})),
    ("mixed_read_write", False, "gen.EmailsModel", "tagged",
     lambda self, *tags: {"not-an-id"}),
    ("search_read", True, "operators_batch", "oracle_rows",
     lambda con, sql: (["x"], [(1,)])),
])
def test_wrong_expected_answer_counts_as_failed(spark, tmp_path, monkeypatch,
                                                workload, traced, target,
                                                attr, wrong):
    import importlib

    mod, _, cls = target.partition(".")
    owner = importlib.import_module(mod)
    monkeypatch.setattr(getattr(owner, cls) if cls else owner, attr, wrong)
    res = _run(spark, tmp_path, workload, traced=traced)
    assert res.failed > 0
    assert res.failed <= res.attempted


def test_inputs_depend_only_on_the_seed():
    def draw(seed):
        rng = np.random.default_rng(seed)
        vocab = gen.Vocabulary(rng, 500)
        docs = gen.corpus(rng, vocab, 30)
        model = gen.EmailsModel(rng, vocab, 20, 0)
        return (docs, gen.search_requests(rng, vocab, docs),
                model.batch(seed, 0, 8), model.search(0))

    assert draw(5) == draw(5)
    assert draw(5) != draw(6)
    tables = [gen.operator_tables(np.random.default_rng(5), 0.02)
              for _ in range(2)]
    assert all(tables[0][k].equals(tables[1][k]) for k in tables[0])


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / HERE.name,
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
