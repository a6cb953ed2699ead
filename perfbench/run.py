"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload api_interactive --seed 7 --seconds 10 --trace 0

Runs from the root of a source checkout. The program is imported from
that checkout, its inputs are the fixture tables under perfbench/data,
and everything a run writes (Spark scratch, outputs, the span file)
stays under perfbench/.work. The last line of stdout is one JSON object
{correct, attempted, failed, metrics}; the line before it is the full
run record, stamped with the source revision, cores, scale factor, seed,
host CPU steal and load average. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# the program and perfbench from the checkout root, conftest.py from tests/
sys.path[:0] = [str(ROOT), str(ROOT / "tests")]

from perfbench import procs, sparkstats  # noqa: E402
from perfbench.tracing import OPERATOR_SPANS, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, RequestOrder  # noqa: E402

BENCH = ROOT / "perfbench"
DATA = BENCH / "data" / "sf0.01"
SF = 0.01
DRIVER_MEMORY = "2g"  # the program's default (8g) is more than a shared box should commit


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> int:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` and size the program to this machine's cores."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(tmp),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(path),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)  # default: one per core
    tempfile.tempdir = str(tmp)
    os.chdir(work)  # spark-warehouse, derby.log and friends land here
    return cores


def source_stamp() -> dict:
    """Git revision and dirtiness when the checkout is a repository, and
    always a digest of the program's sources."""
    digest = hashlib.sha256()
    for f in sorted((ROOT / "polkadot_etl_spark").rglob("*.py")):
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = {"git_sha": None, "git_dirty": None, "source_sha256": digest.hexdigest()}
    if (ROOT / ".git").exists():
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, check=True)
            dirty = subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=no"],
                cwd=ROOT,
                capture_output=True,
                text=True,
                check=True,
            )
            stamp.update(git_sha=sha.stdout.strip(), git_dirty=bool(dirty.stdout.strip()))
        except (OSError, subprocess.CalledProcessError):
            pass
    return stamp


def median_of(rows: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in rows)


class Runner:
    """One run: the set-ups, the workload's passes, the output check."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: Path):
        self.workload = workload
        self.seconds = seconds
        self.order = RequestOrder(workload, seed)
        self.work = work
        self.tracer = Tracer() if trace else None
        self.batches = sparkstats.BatchCounter() if trace else None
        self.sessions = []  # held: the program's memos key on id() of live objects
        self.setups: list[float] = []  # steal-corrected seconds per set-up
        self.setups_wall: list[float] = []
        self.passes: list[dict] = []
        self.outputs: list[tuple[str, str, tuple[str, ...]]] = []  # (query, path, partition cols)
        # noop-sink workloads collect one warm-up pass instead, for the check
        self.collecting = False
        self.collected: dict = {}  # query -> pandas frame
        self.errors: dict[str, str] = {}  # query -> first failure
        self.attempted = 0
        self.req_seq = 0

    # ---- set-up ------------------------------------------------------
    def setup(self, previous):
        """Stop ``previous`` (if any) and time a new session's set-up."""
        from polkadot_etl_spark import benchutil, session

        if previous is not None:
            previous.stop()
        if self.tracer:
            self.tracer.install()  # set-ups are always traced
        watch = procs.Stopwatch()
        spark = session.get_spark(app_name="perfbench")
        benchutil.warm_session(spark, str(DATA))
        corrected, wall, _ = watch.read()
        self.setups.append(corrected)
        self.setups_wall.append(wall)
        self.sessions.append(spark)
        if self.batches is not None:
            spark.streams.addListener(self.batches)
        return spark

    # ---- requests ----------------------------------------------------
    def sink(self, df, name: str, out_dir: Path) -> None:
        if not self.workload.writes:
            if self.collecting:
                self.collected[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            return
        from pyspark.sql.types import DateType, TimestampType

        from polkadot_etl_spark.sources import tables

        path = str(out_dir / name)
        ts = [f.name for f in df.schema.fields if isinstance(f.dataType, (TimestampType, DateType))]
        if ts and "log_dt" not in df.columns:
            tables.write_day_partitioned(df, path, ts[0])
            self.outputs.append((name, path, ("log_dt",)))
        else:
            df.write.mode("overwrite").parquet(path)
            self.outputs.append((name, path, ()))

    def request(self, spark, name: str, traced: bool, out_dir: Path, log: dict) -> None:
        from polkadot_etl_spark.queries import QUERIES

        tracer = self.tracer if traced else None
        req = f"r{self.req_seq}"
        self.req_seq += 1
        if self.tracer:
            self.tracer.install() if traced else self.tracer.uninstall()
            self.tracer.request = req if traced else None
        span = tracer.span if tracer else (lambda _name: nullcontext())
        sc = spark.sparkContext
        stats = sparkstats
        self.attempted += 1
        watch = procs.Stopwatch()
        try:
            if tracer:
                ids = [stats.execution_count(spark)]
            with span("request"):
                sc.setJobGroup(f"{req}.build", name)
                with span("queries.build"):
                    df = QUERIES[name].build(spark, str(DATA))
                if tracer:
                    ids.append(stats.execution_count(spark))
                sc.setJobGroup(f"{req}.exec", name)
                with span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                with span("spark.exec"):
                    self.sink(df, name, out_dir)
            if tracer:
                ids.append(stats.execution_count(spark))
                log["requests"].append(req)
                log["exec_ids"].append(ids)
                log["frames"].append(df)
            raised = False
        except Exception as exc:  # a failed request is counted; the loop goes on
            raised = True
            self.errors.setdefault(name, f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        corrected, wall, _ = watch.read()
        log["outcomes"].append((name, raised, traced, corrected, wall))

    # ---- passes ------------------------------------------------------
    def run_pass(self, spark, mode: str, measured: bool) -> None:
        """One pass over the mix. ``mode`` is "plain" (no tracing),
        "traced", or "paired": every query runs twice in a row, untraced
        and traced, in alternating order, which measures the tracing
        overhead on the same warm state."""
        tracer = self.tracer
        out_dir = self.work / "out" / f"p{len(self.passes)}"
        log = {"requests": [], "outcomes": [], "exec_ids": [], "frames": []}
        span0 = len(tracer.spans) if tracer else 0
        batches0 = self.batches.batches if self.batches else 0
        hits0 = tracer.load_table_hits if tracer else 0
        cpu0 = procs.tree_cpu_s()
        watch = procs.Stopwatch()
        for i, name in enumerate(self.order.next_pass()):
            if mode == "paired":
                for traced in (False, True) if i % 2 == 0 else (True, False):
                    self.request(spark, name, traced, out_dir / ("t" if traced else "u"), log)
            else:
                traced = mode == "traced"
                self.request(spark, name, traced, out_dir / ("t" if traced else "u"), log)
        corrected, wall, steal = watch.read()
        cpu = procs.tree_cpu_s() - cpu0
        plain = [dt for _, _, traced, dt, _ in log["outcomes"] if not traced]
        traced = [dt for _, _, traced, dt, _ in log["outcomes"] if traced]
        rec = {
            "mode": mode,
            "measured": measured,
            # in a paired pass the untraced half stands for the pass
            "pass_s": sum(plain) if mode == "paired" else corrected,
            "wall_s": wall,
            "steal_s": steal,
            "cpu_s": cpu / 2 if mode == "paired" else cpu,
            "latencies": traced if mode == "traced" else plain,
            "outcomes": log["outcomes"],
        }
        if mode != "plain":
            rec["traced_pass_s"] = sum(traced) if mode == "paired" else corrected
            rec["layers"] = self.harvest(spark, log, span0, batches0, out_dir / "t")
            rec["layers"]["sources.load_table.hits"] = tracer.load_table_hits - hits0
        self.passes.append(rec)
        gc.collect()

    def harvest(self, spark, log: dict, span0: int, batches0: int, out_dir: Path) -> dict:
        """Per-layer numbers of the traced pass just run (outside its timer)."""
        stats, tracer = sparkstats, self.tracer
        stats.flush_listeners(spark)
        reqs = log["requests"]
        build = stats.group_counts(spark, [f"{r}.build" for r in reqs])
        execs = stats.group_counts(spark, [f"{r}.exec" for r in reqs])
        sql = {"shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "python_rows": 0.0}
        for _before_build, after_build, after_exec in log["exec_ids"]:
            for k, v in stats.sql_metrics(spark, after_build, after_exec).items():
                sql[k] += v
        totals = tracer.totals(span0)
        selfs = tracer.self_times(span0)
        files = [p for p in out_dir.rglob("*.parquet")] if out_dir.exists() else []
        misses = [i for i in tracer.expr_cache_misses if i >= span0]
        layers = {
            "spans": len(tracer.spans) - span0,
            "totals": {k: [c, s] for k, (c, s) in totals.items()},
            "self_s": selfs,
            "queries.build_jobs": build["jobs"],
            "queries.build_stages": build["stages"],
            "queries.build_tasks": build["tasks"],
            "spark.exec.jobs": execs["jobs"],
            "spark.exec.stages": execs["stages"],
            "spark.exec.tasks": execs["tasks"],
            "spark.exec.shuffle_write_bytes": sql["shuffle_write_bytes"],
            "spark.exec.spill_bytes": sql["spill_bytes"],
            "spark.exec.python_rows": sql["python_rows"],
            "spark.plan.nodes": sum(stats.plan_nodes(df) for df in log["frames"]),
            "streaming.micro_batches": self.batches.batches - batches0,
            "sources.write.files": len(files),
            "sources.write.bytes": sum(p.stat().st_size for p in files),
            "plans.expr_cache.misses": len(misses),
            "plans.expr_cache.miss_s": sum(tracer.spans[i].end - tracer.spans[i].start for i in misses),
            "operators.s": sum(selfs.get(n, 0.0) for n in OPERATOR_SPANS),
        }
        log["frames"].clear()
        return layers

    # ---- the run -----------------------------------------------------
    def execute(self) -> None:
        """The workload's set-ups and warm-up passes, then measured passes
        until ``--seconds`` have gone by (at least the workload's minimum); a
        fresh-context workload sets up a new session before each one.

        In a traced run the warm-up passes are traced, so that the tracer
        sees every first return of the program's memos. A long-lived
        session's measured passes are then paired; a fresh-context
        workload traces its measured passes and adds one paired pass (not
        measured) for the tracing overhead."""
        from polkadot_etl_spark.streaming import replay

        tracing = self.tracer is not None
        if tracing:
            self._count_clone_batches(replay)
        wl = self.workload
        spark = None
        for _ in range(wl.setups):
            spark = self.setup(spark)
        mode = "traced" if tracing else "plain"
        for i in range(wl.warmup_passes):
            # the last warm-up pass of a noop-sink workload collects its
            # outputs for the check, on the same warm state as the passes after it
            self.collecting = not wl.writes and i == wl.warmup_passes - 1
            self.run_pass(spark, mode, measured=False)
        self.collecting = False
        if tracing and not wl.fresh:
            mode = "paired"
        deadline = time.perf_counter() + self.seconds
        measured = 0
        while measured < wl.min_passes or time.perf_counter() < deadline:
            if wl.fresh:
                spark = self.setup(spark)
            self.run_pass(spark, mode, measured=True)
            measured += 1
        if tracing and wl.fresh:
            self.run_pass(spark, "paired", measured=False)
        self.spark = spark

    def _count_clone_batches(self, replay) -> None:
        """Bounded replays run on a cloned session whose streaming-query
        manager is its own; register the batch counter on every clone."""
        original = replay.replay_session
        counter = self.batches

        def replay_session(spark, n_rows):
            clone = original(spark, n_rows)
            clone.streams.addListener(counter)
            return clone

        replay.replay_session = replay_session

    # ---- output check ------------------------------------------------
    def check(self) -> set[str]:
        """Compare every query's output with its oracle; returns the names
        checked. A mismatch fails every request of that query."""
        from perfbench.check import OracleCheck, read_written

        if self.tracer:
            self.tracer.uninstall()
        oracle = OracleCheck(str(DATA))
        checked = set()
        if self.workload.writes:
            frames = ((name, read_written(path, drop)) for name, path, drop in self.outputs)
        else:
            frames = iter(self.collected.items())
        try:
            for name, frame in frames:
                checked.add(name)
                bad = oracle.mismatch(name, frame)
                if bad:
                    self.errors.setdefault(name, bad)
        finally:
            oracle.close()
        return checked

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        forked) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def end_to_end(runner: Runner) -> dict:
    """End-to-end metrics over the measured passes (in a traced run they
    include the tracing overhead)."""
    timed = [p for p in runner.passes if p["measured"]]
    lat = [x for p in timed for x in p["latencies"]]
    return {
        "setup_s": (statistics.median(runner.setups), "s"),
        "pass_s": (median_of(timed, "pass_s"), "s"),
        "cpu_s": (median_of(timed, "cpu_s"), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (sum(runner.rss_mb.values()), "MB"),
    }


def latency_tail(runner: Runner) -> dict:
    """p90 latency and its sample count, for the record only: neither
    workload collects the hundred requests a run that p90 needs to have
    ten samples beyond it."""
    lat = [x for p in runner.passes if p["measured"] for x in p["latencies"]]
    return {"samples": len(lat), "p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8]}


def per_query(runner: Runner) -> dict:
    """Median latency of each query over the measured passes (untraced
    requests only, except in traced passes)."""
    seen: dict[str, list[float]] = {}
    for p in runner.passes:
        if p["measured"]:
            for name, _raised, traced, dt, _wall in p["outcomes"]:
                if not traced or p["mode"] == "traced":
                    seen.setdefault(name, []).append(dt)
    return {name: statistics.median(v) for name, v in sorted(seen.items())}


# The traced operators the two mixes call; the others (connected
# components, k-means, PageRank, the bloom filter) read 0 on both and are
# in the record's layer_detail only.
MIX_OPERATORS = ("operators.asof_join", "operators.band_join_best_match", "operators.upsert_day_partitioned")


def per_layer(runner: Runner) -> dict:
    tracer = runner.tracer
    traced = [p for p in runner.passes if p["measured"] and "layers" in p]
    paired = [p for p in runner.passes if p["mode"] == "paired"]
    layers = [p["layers"] for p in traced]

    def med(fn) -> float:
        return statistics.median(fn(x) for x in layers)

    def calls(name):
        return med(lambda x: x["totals"].get(name, [0, 0.0])[0])

    def incl(name):
        return med(lambda x: x["totals"].get(name, [0, 0.0])[1])

    def self_s(name):
        return med(lambda x: x["self_s"].get(name, 0.0))

    setup_spans = {"session.get_spark": [], "session.warm": []}
    for s in tracer.spans:
        if s.name in setup_spans:
            setup_spans[s.name].append(s.end - s.start)
    lt_calls = sum(x["totals"].get("sources.load_table", [0])[0] for x in layers)
    lt_hits = sum(x["sources.load_table.hits"] for x in layers)
    ec_calls = sum(x["totals"].get("plans.expr_cache", [0])[0] for x in layers)
    ec_miss = sum(x["plans.expr_cache.misses"] for x in layers)
    out = {
        "session.get_spark_s": (statistics.median(setup_spans["session.get_spark"]), "s"),
        "session.warm_s": (statistics.median(setup_spans["session.warm"]), "s"),
        "sources.load_table.calls": (calls("sources.load_table"), "count"),
        "sources.load_table.s": (self_s("sources.load_table"), "s"),
        "sources.load_table.memo_hit_ratio": (lt_hits / lt_calls if lt_calls else 0.0, "ratio"),
        "sources.write.files": (med(lambda x: x["sources.write.files"]), "count"),
        "sources.write.bytes": (med(lambda x: x["sources.write.bytes"]), "bytes"),
        "plans.expr_cache.calls": (calls("plans.expr_cache"), "count"),
        "plans.expr_cache.hit_ratio": ((ec_calls - ec_miss) / ec_calls if ec_calls else 0.0, "ratio"),
        "queries.build_s": (self_s("queries.build"), "s"),
        "queries.build_jobs": (med(lambda x: x["queries.build_jobs"]), "count"),
        "queries.build_stages": (med(lambda x: x["queries.build_stages"]), "count"),
        "queries.build_tasks": (med(lambda x: x["queries.build_tasks"]), "count"),
        "operators.s": (med(lambda x: x["operators.s"]), "s"),
        "streaming.collect_bounded_stream.calls": (calls("streaming.collect_bounded_stream"), "count"),
        "streaming.micro_batches": (med(lambda x: x["streaming.micro_batches"]), "count"),
        "spark.plan_s": (incl("spark.plan"), "s"),
        "spark.plan.nodes": (med(lambda x: x["spark.plan.nodes"]), "count"),
        "spark.exec_s": (incl("spark.exec"), "s"),
        "spark.exec.jobs": (med(lambda x: x["spark.exec.jobs"]), "count"),
        "spark.exec.stages": (med(lambda x: x["spark.exec.stages"]), "count"),
        "spark.exec.tasks": (med(lambda x: x["spark.exec.tasks"]), "count"),
        "spark.exec.shuffle_write_bytes": (med(lambda x: x["spark.exec.shuffle_write_bytes"]), "bytes"),
        "trace.pass_s": (median_of(traced, "traced_pass_s"), "s"),
        "trace.overhead_s": (statistics.median(p["traced_pass_s"] - p["pass_s"] for p in paired), "s"),
    }
    for name in MIX_OPERATORS:
        out[f"{name}.calls"] = (calls(name), "count")
    return out


def layer_detail(runner: Runner) -> dict:
    """Per-span-name calls, inclusive and self seconds (medians over the
    traced passes) for the run record, including layers that a workload
    bypasses and whose times would read 0 on every run, and the counters
    that read 0 on both workloads."""
    layers = [p["layers"] for p in runner.passes if p["measured"] and "layers" in p]
    names = sorted({n for x in layers for n in x["totals"]} | set(OPERATOR_SPANS))
    extra = ("plans.expr_cache.miss_s", "spark.exec.spill_bytes", "spark.exec.python_rows")
    return {
        n: {
            "calls": statistics.median(x["totals"].get(n, [0, 0.0])[0] for x in layers),
            "s": statistics.median(x["totals"].get(n, [0, 0.0])[1] for x in layers),
            "self_s": statistics.median(x["self_s"].get(n, 0.0) for x in layers),
        }
        for n in names
    } | {k: statistics.median(x[k] for x in layers) for k in extra}


def main(argv=None) -> int:
    """Run one workload; returns the exit code (2: no program to run)."""
    if not (ROOT / "polkadot_etl_spark" / "__init__.py").is_file() or not DATA.is_dir():
        print("perfbench: run from a source checkout (polkadot_etl_spark/ and perfbench/data/ are required)", file=sys.stderr)
        return 2
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    work = BENCH / ".work" / f"{workload.name}-{os.getpid()}"
    cores = prepare_env(work)
    stamp = source_stamp() | {"nproc": cores, "sf": SF, "seed": args.seed, "workload": workload.name}
    steal0, load0, t0 = procs.host_steal_s(), procs.loadavg_1m(), time.perf_counter()
    runner = Runner(workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        runner.execute()
        runner.rss_mb = procs.tree_peak_rss_mb()
        checked = runner.check()
    finally:
        runner.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    stamp |= {
        "run_s": time.perf_counter() - t0,
        "steal_s": procs.host_steal_s() - steal0,
        "loadavg_1m_start": load0,
        "loadavg_1m_end": procs.loadavg_1m(),
    }
    # a request fails when it raised or when its query's output check failed
    failed = sum(
        1 for p in runner.passes for name, raised, *_ in p["outcomes"] if raised or name in runner.errors
    )
    e2e = end_to_end(runner)
    record = {
        "stamp": stamp,
        "setups_s": runner.setups,
        "setups_wall_s": runner.setups_wall,
        "passes": [{k: v for k, v in p.items() if k not in ("latencies", "layers")} for p in runner.passes],
        "requests": runner.attempted,
        "query_median_s": per_query(runner),
        "latency": latency_tail(runner),
        "rss_mb": runner.rss_mb,
        "errors": runner.errors,
        "checked": sorted(checked),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    metrics = e2e
    if runner.tracer:
        metrics = per_layer(runner)
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        record["layer_detail"] = layer_detail(runner)
        trace_dir = BENCH / ".work" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{workload.name}-seed{args.seed}.json").write_text(json.dumps(runner.tracer.dump()))
    print(json.dumps(record))
    result = {
        "correct": not runner.errors and checked == set(workload.queries),
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
