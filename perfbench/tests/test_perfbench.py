"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The first four tests need no Spark. The last two run the benchmark
end to end (about five minutes on a 4-core box).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path


ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.sparkstats import _metric_value  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import API_INTERACTIVE, ETL_PUBLISH, RequestOrder  # noqa: E402

EXACT_COUNTS = (
    "spark.exec.jobs",
    "spark.exec.stages",
    "spark.exec.tasks",
    "queries.build_jobs",
    "sources.load_table.calls",
    "plans.expr_cache.calls",
    "streaming.micro_batches",
)


def run_bench(workload: str, seed: int, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def result_and_record(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


def test_seed_changes_request_order_not_mix():
    a, b = RequestOrder(API_INTERACTIVE, 1), RequestOrder(API_INTERACTIVE, 2)
    passes_a = [a.next_pass() for _ in range(3)]
    passes_b = [b.next_pass() for _ in range(3)]
    assert passes_a != passes_b
    for pa, pb in zip(passes_a, passes_b):
        assert sorted(pa) == sorted(pb) == sorted(API_INTERACTIVE.queries)
    again = RequestOrder(API_INTERACTIVE, 1)
    assert [again.next_pass() for _ in range(3)] == passes_a
    # the publish keeps its table order whatever the seed
    assert RequestOrder(ETL_PUBLISH, 1).next_pass() == RequestOrder(ETL_PUBLISH, 2).next_pass() == list(ETL_PUBLISH.queries)


def test_self_time_subtracts_children():
    t = Tracer()
    outer = t.open("a")
    inner = t.open("b")
    t.close(inner)
    t.close(outer)
    t.spans[outer].start, t.spans[outer].end = 0.0, 10.0
    t.spans[inner].start, t.spans[inner].end = 2.0, 5.0
    assert t.self_times() == {"a": 7.0, "b": 3.0}


def test_metric_value_parses_formatted_sql_metrics():
    assert _metric_value("939.0 B", "size") == 939.0
    assert _metric_value("1.5 KiB", "size") == 1536.0
    assert _metric_value("total (min, med, max)\n2.0 MiB (0.5 MiB, 0.5 MiB, 1.0 MiB)", "size") == 2.0 * (1 << 20)
    assert _metric_value("1,234", "sum") == 1234.0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = run_bench("api_interactive", 1, 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_count_metrics_repeat_exactly_for_one_seed():
    first, _ = result_and_record(run_bench("etl_publish", 5, 1))
    second, _ = result_and_record(run_bench("etl_publish", 5, 1))
    for name in EXACT_COUNTS:
        assert first["metrics"][name] == second["metrics"][name], name
    assert first["metrics"]["plans.expr_cache.calls"]["value"] > 0
    assert first["metrics"]["streaming.micro_batches"]["value"] > 0


def test_traced_and_untraced_runs_emit_the_same_end_to_end_names():
    plain_result, plain = result_and_record(run_bench("api_interactive", 3, 0))
    traced_result, traced = result_and_record(run_bench("api_interactive", 3, 1))
    assert plain_result["correct"] and traced_result["correct"]
    assert set(plain["end_to_end"]) == set(traced["end_to_end"]) == set(plain_result["metrics"])
    assert "trace.overhead_s" in traced_result["metrics"]
