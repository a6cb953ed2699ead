"""Per-query optimization loop helper (r13): time named queries through
the bench's own noop-sink discipline, judge them against their
checked-in budgets, and/or dump their formatted plans.

Usage:
    python tools_profile.py q1 q2 ...               # time each (min of N)
    python tools_profile.py --explain-dir /tmp/plans --suffix _before q1 ...
    python tools_profile.py --iters 5 q1            # re-measure a breach
    SPARK_GRAFT_CONF='spark.foo=bar;spark.baz=qux' python tools_profile.py q1

Timing uses benchutil.time_noop_split (identical methodology to bench.py)
at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS], after
the same warm_session, so numbers here are comparable to BENCH_DETAIL.

At the budgets' own scale factor each timed query also gets its
BENCH_BUDGETS.json verdict, raw and normalized by box speed
(bench.speed_ratio): when a query is over its raw budget, this sitting's
box is probed once (benchutil.box_speed_probe) and the budget is scaled
by the generating sitting's stamped speed over this one's, so box drift
reads apart from a real regression. Run breaches on an idle box.

Each timed query also reports its codegen: the classes Janino compiled
in each iteration and the compile seconds over all of them
(benchutil.codegen_compiles). A warm iteration should compile nothing;
a query whose last iteration still compiled is flagged, because its
generated source changes from run to run or the codegen cache is too
small for what the session has run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--no-time", action="store_true")
    args = ap.parse_args()

    from bench import _BUDGET_PATH, scale_factor, speed_ratio
    from polkadot_etl_spark.benchutil import (
        box_speed_probe,
        codegen_compiles,
        time_noop_split,
        warm_session,
    )
    from polkadot_etl_spark.queries import QUERIES
    from polkadot_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    extra = {}
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()

    missing = [n for n in args.names if n not in QUERIES]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    budget_doc: dict = {}
    if os.path.exists(_BUDGET_PATH):
        with open(_BUDGET_PATH) as fh:
            budget_doc = json.load(fh)
    if abs(scale_factor(sf_dir) - budget_doc.get("sf", -1.0)) > 1e-9:
        budget_doc = {}  # budgets hold at their own scale factor only
    budgets: dict[str, float] = budget_doc.get("budgets", {})
    box_then: dict = budget_doc.get("box_speed") or {}

    print(f"# loadavg_1m at start: {os.getloadavg()[0]:.2f}")
    spark = get_spark(app_name="tools-profile", extra_conf=extra or None)
    warm_session(spark, sf_dir)
    box_now: "dict | None" = None

    for name in args.names:
        spec = QUERIES[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            t0 = time.perf_counter()
            df = spec.build(spark, sf_dir)
            build_s = time.perf_counter() - t0
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(args.explain_dir, f"{name}{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"# {name}: plan -> {path} (build {build_s:.2f}s)")
        if args.no_time:
            continue
        marks = []  # codegen counters as each iteration starts, then at the end

        def build(spark, sf_dir, build=spec.build):
            marks.append(codegen_compiles(spark))
            return build(spark, sf_dir)

        spark.sparkContext.setJobDescription(f"profile: {name}")
        splits = time_noop_split(build, spark, sf_dir, base_iters=args.iters)
        spark.sparkContext.setJobDescription(None)
        marks.append(codegen_compiles(spark))
        classes = [b[0] - a[0] for a, b in zip(marks, marks[1:])]
        compile_s = marks[-1][1] - marks[0][1]
        times = [b + w for b, w in splits]
        m = min(times)
        b = budgets.get(name)
        if b is None:
            verdict = "no budget at this sf"
        elif m <= b:
            verdict = f"UNDER budget {b:.2f}s"
        else:
            if box_now is None:
                box_now = box_speed_probe(spark)
                print(f"# box speed now: {box_now}")
                print(f"# box speed at budget generation: {box_then or 'UNSTAMPED'}")
            ratio = speed_ratio(box_then, box_now)
            verdict = f"OVER budget {b:.2f}s"
            if ratio:
                b_norm = b * ratio
                verdict += (
                    f", ratio {ratio:.3f}, UNDER normalized ({b_norm:.2f}s): box drift"
                    if m <= b_norm
                    else f", ratio {ratio:.3f}, OVER normalized ({b_norm:.2f}s): REAL"
                )
        print(
            f"{name}: min={m:.3f}s build={splits[times.index(m)][0]:.3f}s "
            f"{verdict} iters=" + ",".join(f"{t:.3f}" for t in times)
            + " codegen=" + ",".join(map(str, classes)) + f" classes in {compile_s:.2f}s"
            + (", LAST ITERATION COMPILED" if classes[-1] else "")
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
