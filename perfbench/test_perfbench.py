"""Self-tests of the benchmark (not part of tests/):

    python3 -m pytest perfbench -q -p no:cacheprovider

Inputs are seed-determined, every workload runs and passes its output
checks at sf0.001, and the traced run's span wrappers and forced
materialisations leave every output byte-identical.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.workloads import WORKLOADS, Forcer, NullTracer  # noqa: E402

SMOKE_SF = "sf0.001"


def _generate(name: str, work: str, seed: int) -> str:
    meta = WORKLOADS[name].inputs(work, SMOKE_SF, seed)
    key = "pages" if name == "web_crawl" else "base"
    return inputs.digest_dir(os.path.dirname(meta[key]))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_inputs_are_a_function_of_the_seed(tmp_path, name):
    a = _generate(name, str(tmp_path / "a"), seed=7)
    b = _generate(name, str(tmp_path / "b"), seed=7)
    c = _generate(name, str(tmp_path / "c"), seed=8)
    assert a == b
    assert a != c


def _bench_names() -> tuple[list[str], list[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_smoke_every_workload(tmp_path, name):
    env = dict(os.environ, PERFBENCH_WORK=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name, "--seed", "3",
         "--seconds", "0", "--trace", "0", "--sf", SMOKE_SF],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    end_to_end, _ = _bench_names()
    assert sorted(res["metrics"]) == sorted(end_to_end)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_per_layer_names_match_the_spec():
    from perfbench.traced import PER_LAYER

    _, per_layer = _bench_names()
    assert [m for m, _u, _b in PER_LAYER] == per_layer


@pytest.fixture(scope="module")
def spark_env(tmp_path_factory):
    from perfbench.run import configure_env

    work = str(tmp_path_factory.mktemp("work"))
    configure_env(work)
    return work


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_and_untraced_outputs_are_identical(spark_env, name):
    from perfbench.run import start_sessions
    from perfbench.tracing import Tracer

    wl = WORKLOADS[name]
    meta = wl.inputs(spark_env, SMOKE_SF, 5)
    spark, st, _setups, _starts = start_sessions(wl, meta, spark_env, n=1)
    try:
        plain = wl.output_digest(st, wl.op(spark, st, NullTracer()))
        tracer, forcer = Tracer(spark), Forcer()
        with wl.instrument(tracer, forcer), tracer.span("op"):
            out = wl.op(spark, st, tracer)
        traced = wl.output_digest(st, out)
        forcer.release()
    finally:
        spark.stop()
    assert plain == traced
    assert len(tracer.spans) > 3
