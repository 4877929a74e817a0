"""Smoke test of the benchmark itself: every workload at the smallest input
size, untraced and traced, through its output checks; each workload's
extra pass, traced; and the entry point's refusal to run without the
engine package.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from checks import CHECKS, EXTRA_CHECKS  # noqa: E402
from spans import NullTracer, Tracer, self_times  # noqa: E402
from workloads import EXTRA_PASSES, WORKLOADS, Ctx  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from dbms_data_anonymity_differential_privacy_spark import get_spark

    session = get_spark(app_name="perfbench-smoke")
    session.sparkContext.setLogLevel("ERROR")
    return session


@pytest.mark.parametrize("traced", [False, True], ids=["untraced", "traced"])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_smoke(spark, tmp_path, workload, traced):
    data = str(tmp_path / "data")
    rows = gen.generate(workload, "smoke", 7, data)
    assert all(n > 0 for n in rows.values())
    tracer = Tracer(spark, f"smoke-{workload}") if traced else NullTracer()
    ctx = Ctx(spark, data, str(tmp_path / "out"), tracer)
    tracer.begin_iteration(0)
    with tracer.span("bench"):
        it = WORKLOADS[workload](ctx, 0)
    tracer.end_iteration()
    spark.catalog.clearCache()

    [(ok, _)] = CHECKS[workload](data, [it.outputs], traced)
    assert ok and all(ok.values()), ok
    assert it.wall_s > 0 and it.steps and all(s > 0 for _, s in it.steps)
    if traced:
        layers = {s.layer for s in tracer.spans}
        assert {"bench", "sources.read"} <= layers and len(layers) >= 5
        selfs = self_times(tracer.spans)
        root = next(s for s in tracer.spans if s.layer == "bench")
        # self times partition the traced iteration
        assert sum(selfs.values()) == pytest.approx(root.duration, rel=1e-6)
        assert sum(s.jobs for s in tracer.spans) > 0


@pytest.mark.parametrize("workload", sorted(EXTRA_PASSES))
def test_extra_pass_smoke(spark, tmp_path, workload):
    data = str(tmp_path / "data")
    gen.generate(workload, "smoke", 7, data)
    tracer = Tracer(spark, f"smoke-extra-{workload}")
    outputs = EXTRA_PASSES[workload](Ctx(spark, data, str(tmp_path / "out"), tracer))
    spark.catalog.clearCache()

    ok, stats = EXTRA_CHECKS[workload](data, outputs)
    assert ok and all(ok.values()), ok
    [span] = tracer.spans
    assert span.jobs > 0
    if workload == "corpus_curation":
        assert stats["streaming.batches"] == gen.STREAM_FILES


def test_same_seed_same_inputs(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen.generate("corpus_curation", "smoke", 3, a)
    gen.generate("corpus_curation", "smoke", 3, b)
    with open(os.path.join(a, "documents.parquet"), "rb") as fa, open(
        os.path.join(b, "documents.parquet"), "rb"
    ) as fb:
        assert fa.read() == fb.read()


def test_refuses_without_engine_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "anon_release", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 2
    assert p.stdout == ""
