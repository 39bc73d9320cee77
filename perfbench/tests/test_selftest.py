"""Self-test of the benchmark: each workload once at small size with
tracing on and one expected result corrupted.

    python3 -m pytest perfbench/tests -q

Checks that every metric of BENCHMARK.json is emitted, that each
operation's span self-times sum to no more than its wall time, that the
corrupted expectation is reported as a failure, that the fs byte and
commit-conflict counters count what they name, and that the benchmark
refuses to run without the engine package.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 5
WORKLOADS = ("analytics", "llm_corpus", "lakehouse_rw")
# measured on lakehouse_rw only; the other workloads report them as 0
LAKEHOUSE_ONLY = {"commit_small_p50_s", "write_s", "read_s", "write_amp", "space_amp"}


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module", params=WORKLOADS)
def traced(request):
    workload = request.param
    proc = run_bench(ROOT, "--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", "1",
                     "--small", "--corrupt")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return workload, lines[0], lines[-1]


def test_every_metric_is_emitted(traced):
    workload, report, final = traced
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    if workload != "lakehouse_rw":
        declared = [n for n in declared if n not in LAKEHOUSE_ONLY]
    assert [n for n in declared if n not in report["metrics"]] == []
    assert sorted(final["metrics"]) == sorted(m["name"] for m in spec["per_layer"])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}


def test_span_self_times_fit_in_operation_wall(traced):
    workload, _, _ = traced
    with open(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{SEED}.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    assert spans
    child_s = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    wall, self_sum = {}, defaultdict(float)
    for i, s in enumerate(spans):
        if s["layer"] == "op":
            wall[s["op"]] = s["end"] - s["start"]
        else:
            self_sum[s["op"]] += (s["end"] - s["start"]) - child_s[i]
    assert wall
    assert {op: v for op, v in self_sum.items() if v > wall[op] + 1e-9} == {}


def test_corrupted_expectation_is_a_failure(traced):
    workload, report, final = traced
    assert final["correct"] is False and final["failed"] >= 1
    signature = "checksum" if workload == "lakehouse_rw" else "row count"
    assert any(signature in line for line in report["failures"]), report["failures"]


def test_fs_bytes_and_commit_conflicts_are_counted_once(tmp_path):
    """A commit whose first attempt loses the race for its log version:
    one conflict, the entry's bytes counted where they are written and
    not again in the guarded call around it, and the data file's bytes
    taken from the commit."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    sys.path.insert(0, ROOT)
    import spans
    from local_datalakehouse_phase2_spark.lakehouse import log

    tracer = spans.Tracer()
    tracer.install()
    tracer.enabled = True
    tlog = log.TransactionLog(str(tmp_path / "metadata"))

    def make_entry(version):
        return log.LogEntry(version=version, snapshot_id=version + 1, committed_at=0.0, operation="append",
                            added_files=(log.FileInfo(path=f"data/{version}.parquet", size_bytes=1234,
                                                      row_count=1),))

    tlog.append(make_entry)  # version 0, untraced
    stale = iter([None])  # the next append first sees the log as empty and claims version 0 again
    tlog.latest_version = lambda: next(stale, 0)
    span = tracer.begin_op("selftest.commit")
    entry = tlog.append(make_entry)
    tracer.end_op(span)
    tracer.enabled = False

    assert entry.version == 1
    methods = tracer.per_op()["selftest.commit"]["methods"]
    assert methods["fs.create_exclusive_guarded"]["calls"] == 2
    assert methods["fs.create_exclusive_guarded"]["conflicts"] == 1
    assert "bytes_written" not in methods["fs.create_exclusive_guarded"]
    on_disk = os.path.getsize(tmp_path / "metadata" / f"{1:010d}.json")
    # two attempts, each writing an entry of about the committed one's size
    assert 1.8 * on_disk < methods["fs.create_exclusive"]["bytes_written"] < 2.2 * on_disk
    assert methods["log.append"]["data_bytes"] == 1234


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(str(tmp_path), "--workload", "analytics", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())
