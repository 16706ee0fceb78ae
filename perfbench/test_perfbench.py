"""Self-tests of the benchmark at tiny input sizes.

    python -m pytest perfbench -q

Each workload runs two traced passes at tiny size in one session, for the
checks of job attribution, output verification and the declared metric
names; job-count repeatability compares two full-size traced runs, each a
fresh process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads  # noqa: E402
from layers import PER_LAYER, per_layer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


class _TinyElt(workloads.EltMedallion):
    rows = 2_000
    warmup_rows = 200


TINY = {
    "elt_medallion": _TinyElt,
    "corpus_curation": workloads.CorpusCuration,
}


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    conf = run._configure_env(work)
    from data_engineer_development_spark.session import get_spark

    session = get_spark(app_name="perfbench-selftest", extra_conf=conf)
    session.sparkContext.setLogLevel("ERROR")
    yield session, work
    run._shutdown(session)
    shutil.rmtree(work, ignore_errors=True)


@pytest.fixture(scope="module")
def traced(spark):
    """Two traced passes of every workload at tiny size."""
    session, work = spark
    out = {}
    for name, cls in TINY.items():
        data = os.path.join(work, name, "data")
        wl = (cls(data, 7, os.path.join(work, name, "elt"))
              if issubclass(cls, workloads.EltMedallion) else cls(7))
        wl.generate()
        wl.warm_up(session)
        runner = workloads.Runner(session, traced=True)
        for p in range(2):
            wl.run_pass(runner, p)
        out[name] = (wl, runner, wl.verify(session))
    return out


@pytest.mark.parametrize("name", sorted(TINY))
def test_outputs_verify(traced, name):
    wl, runner, failures = traced[name]
    assert [s.error for s in runner.spans if s.error] == []
    assert failures == []


@pytest.mark.parametrize("name", sorted(TINY))
def test_every_job_attributed_to_exactly_one_op(traced, name):
    _, runner, _ = traced[name]
    spans = runner.spans
    for a, b in zip(spans, spans[1:]):
        assert a.end_job == b.first_job, (a.name, b.name)
    covered = [j for s in spans for j in range(s.first_job, s.end_job)]
    assert covered == list(range(spans[0].first_job, spans[-1].end_job))
    assert all(s.jobs > 0 for s in spans if s.name != "channel.publish")


def test_read_mix_runs_only_footer_jobs_at_build(traced):
    """The read mix's membership rule: no data-dependent job at build time
    (a schema-less parquet read runs one footer job per table)."""
    _, runner, _ = traced["corpus_curation"]
    reads = [s for s in runner.spans
             if s.name in workloads.CorpusCuration.read_entries]
    assert len(reads) == 2 * len(workloads.CorpusCuration.read_entries)
    for s in reads:
        assert s.build_jobs == s.counters["schema_jobs"], s.name


@pytest.mark.parametrize("name", run.WORKLOAD_NAMES)
def test_jobs_per_op_repeat_across_two_traced_runs(name):
    """Two traced runs of one seed, each a fresh process at full size."""
    seed = 424242
    path = os.path.join(ROOT, ".perfbench", "results",
                        f"{name}-seed{seed}-trace1.json")
    per_run = []
    for _ in range(2):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
             "--seed", str(seed), "--seconds", "1", "--trace", "1"],
            cwd=ROOT, check=True, capture_output=True, timeout=300,
        )
        with open(path) as f:
            per_run.append([(o["name"], o["jobs"]) for o in json.load(f)["ops"]])
    assert per_run[0] == per_run[1]


def test_every_declared_metric_is_emitted_with_its_unit(traced):
    wl, runner, _ = traced["elt_medallion"]
    setups = [{"start_s": 1.0, "warmup_s": 1.0}]
    layer = dict(per_layer(runner, setups, wl.layer_metrics(runner), 2))
    assert [m["name"] for m in BENCHMARK["per_layer"]] == [n for n, _ in PER_LAYER]
    for m in BENCHMARK["per_layer"]:
        assert layer[m["name"]][1] == m["unit"]
    e2e = run.end_to_end(wl, runner, setups, [1.0, 1.0], 100.0)
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(run.REPORTED)
    for m in BENCHMARK["end_to_end"]:
        assert e2e[m["name"]][1] == m["unit"]
        assert e2e[m["name"]][0] > 0
