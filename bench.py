"""Benchmark runner: executes every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
final JSON line carrying the total AND the per-query map ("queries" —
r14, VERDICT #7: the driver's round-over-round comparison needs the map
in the line; ~6.5 KB for 219 queries, well under any observed capture
limit — the r13 driver's BENCH_rNN.json tail captured more).  The full
run metadata (box stamps, budgets, iterations, and "build_s", each
query's builder time within its fastest iteration) still goes to the
BENCH_DETAIL.json sidecar next to this file.

Each query is fully materialized through the NOOP SINK
(`df.write.format("noop")`): every output column is computed and row
counts never cross to the driver. r1-r3 used `.count()`, which
under-measured some queries — under a count, Catalyst legally eliminates
projections and even joins that cannot change cardinality (measured:
semdedup_prune's pairwise-cosine stage vanished entirely, 0.5s counted
vs 14s real), so count-based numbers flattered exactly the expensive
column pipelines a bench exists to watch. r4 sidecar deltas vs r3 on
unchanged queries are therefore expected to read slightly HIGH, once,
for queries whose output columns were previously prunable.

Each query runs TWICE — THREE times when the min is sub-second, where
scheduler noise dominates (the r4 diff showed five phantom >1.5x
"regressions", all sub-second queries touching no changed code) — and the
per-query sidecar records the MIN: 140 queries share one warm JVM, so
single-shot timings absorb GC / AQE / scheduler noise from neighbors
(r2→r3 showed 3× phantom "regressions" on unchanged plans).  The headline
"value" is the SUM OF PER-QUERY MINS — the same metric shape as earlier
rounds' single-iteration totals (those equaled sum-of-singles), now with
the noise floor removed; raw all-iteration wall-clock goes to the sidecar
as "wall_all".

The builder's share of each query comes from the same timing loop
(benchutil.time_noop_split), so it covers every query alike, including
the builders that run Spark jobs before they return a DataFrame (the
streaming replays, the connected-components gates).
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import time

from polkadot_etl_spark.benchutil import (
    AGG,
    BASE_ITERS,
    EXTRA_BELOW,
    box_speed_probe,
    time_noop_split,
    warm_session,
)
from polkadot_etl_spark.queries import QUERIES
from polkadot_etl_spark.session import get_spark

# Checked-in per-query ceilings (seconds at sf0.1 on the 32-cpu box):
# 1.5x an idle-box min-of-iterations measurement, with a +0.75 s floor
# so sub-second queries aren't flagged by one stray GC pause. The last
# two rounds each produced five >1.5x PHANTOM regressions on untouched
# code that cost a judge cycle to adjudicate; with budgets, a breach is
# a loud, attributable signal ("over_budget" in the sidecar + stderr)
# and silence is meaningful. Regenerate after intentional plan changes:
#   python bench.py --write-budgets   (runs the bench, rewrites budgets)
#
# SELF-HEALING (r8, after the same newest-query gap recurred two rounds
# running — winnowing_fingerprints r6, image_dhash_hamming_lsh r7): a
# query with NO budget gets a PROVISIONAL one written from the current
# run (merge of absent keys only, flagged in the file's "provisional"
# map), so a manual full regen can never trail the last query landed.
# Provisional ceilings derive from a possibly-contended run, which
# biases them LOOSE (min-of-iterations reads high under contention) —
# the safe direction for a ceiling. --write-budgets replaces everything
# with idle-box numbers and clears the provisional flags.
_BUDGET_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_BUDGETS.json"
)


def _budget_of(min_time: float) -> float:
    return round(max(1.5 * min_time, min_time + 0.75), 2)


def reconcile_budgets(
    per_query: "dict[str, float]",
    budget_path: str,
    write_budgets: bool,
    at_budget_sf: bool,
    sf: float,
    box: "dict | None" = None,
):
    """The budget mechanism, separated from the run loop so the
    self-heal contract is unit-testable (tests/test_bench_budgets.py):

    - write_budgets: rewrite the whole file from this run (idle-box
      regeneration; clears provisional flags);
    - else at the budgets' own scale factor: report breaches, and WRITE
      a provisional ceiling for any query with no budget (absent keys
      only — existing budgets are never touched) so the newest query
      can never ship unguarded.

    Returns (over_budget, no_budget) — no_budget lists the queries that
    were self-healed this run (empty next run by construction)."""
    over_budget: dict[str, dict[str, float]] = {}
    no_budget: list[str] = []
    budget_doc: dict = {}
    if os.path.exists(budget_path):
        with open(budget_path) as fh:
            budget_doc = json.load(fh)
    budgets: dict[str, float] = budget_doc.get("budgets", {})
    provisional: dict[str, bool] = budget_doc.get("provisional", {})
    if write_budgets:
        with open(budget_path, "w") as fh:
            json.dump(
                {
                    "sf": sf,
                    "rule": "1.5x idle-box min with a +0.75s floor",
                    # the generating sitting's measured box speed (see
                    # benchutil.box_speed_probe): a future sitting
                    # normalizes a breach by speed_then/speed_now
                    # before calling it real
                    "box_speed": box or {},
                    "budgets": {n: _budget_of(t) for n, t in sorted(per_query.items())},
                },
                fh,
                indent=1,
            )
            fh.write("\n")
        print(f"# wrote {len(per_query)} budgets to {budget_path}", file=sys.stderr)
        return over_budget, no_budget
    if not (budgets and at_budget_sf):
        return over_budget, no_budget
    for name, t in per_query.items():
        b = budgets.get(name)
        if b is None:
            no_budget.append(name)
        elif t > b:
            over_budget[name] = {"min": t, "budget": b}
    for name, d in sorted(over_budget.items()):
        print(
            f"# OVER BUDGET: {name} min={d['min']:.3f}s > budget={d['budget']:.2f}s",
            file=sys.stderr,
        )
    if no_budget:
        for name in no_budget:
            budgets[name] = _budget_of(per_query[name])
            provisional[name] = True
        budget_doc["budgets"] = dict(sorted(budgets.items()))
        budget_doc["provisional"] = dict(sorted(provisional.items()))
        with open(budget_path, "w") as fh:
            json.dump(budget_doc, fh, indent=1)
            fh.write("\n")
        print(
            "# provisional budgets written (re-baseline on an idle box): "
            f"{sorted(no_budget)}",
            file=sys.stderr,
        )
    return over_budget, no_budget


def speed_ratio(box_then: dict, box_now: dict) -> "float | None":
    """How much slower this sitting's box is than the one that stamped
    the budgets (> 1: slower), from benchutil.box_speed_probe stamps, or
    None when no stamp can normalize (a raw verdict only). Queries run
    at full parallelism, so only the nt stamp normalizes, and nt stamps
    compare only at the same ``box_probe_threads``: on a mismatch the
    ratio is None, because the 1t stamp cannot correct for cores (a
    32-thread budget "normalized" by single-thread speed judged a
    4-core box against half the time bench.py measured there). A
    breach under ``budget * ratio`` is box drift, not code."""
    if box_then.get("box_speed_nt") and (
        box_then.get("box_probe_threads") == box_now.get("box_probe_threads")
    ):
        return box_then["box_speed_nt"] / box_now["box_speed_nt"]
    return None


def scale_factor(sf_dir: str) -> float:
    """The scale factor a fixture directory is named for (``.../sf0.1``),
    or -1.0 for a directory without one."""
    return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0


def git_stamp() -> dict:
    """Revision of the checkout this file runs from: ``git_sha`` and
    ``git_dirty`` (tracked files modified), both None outside a git
    checkout. Taken before the run, which rewrites tracked sidecars."""
    git = functools.partial(
        subprocess.run, cwd=os.path.dirname(os.path.abspath(__file__)),
        capture_output=True, text=True, check=True,
    )
    try:
        sha = git(["git", "rev-parse", "HEAD"]).stdout.strip()
        dirty = git(["git", "status", "--porcelain", "--untracked-files=no"]).stdout
    except (OSError, subprocess.CalledProcessError):
        return {"git_sha": None, "git_dirty": None}
    return {"git_sha": sha, "git_dirty": bool(dirty)}


def main() -> None:
    write_budgets = "--write-budgets" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = scale_factor(sf_dir)
    # 1-minute load BEFORE this run starts: driver-sitting contention is
    # the established phantom-breach cause (r8/r9 adjudications) — the
    # stamp makes it self-evident in the sidecar instead of costing a
    # judge cycle (r9 verdict task #2). Sampled BEFORE get_spark so the
    # driver JVM's own startup burst can't masquerade as contention.
    load_1m_start = round(os.getloadavg()[0], 2)
    source = git_stamp()
    spark = get_spark(app_name="polkadot-etl-spark-bench")

    # Warmup + min-of-N discipline live in benchutil (shared with the
    # other timing tools so they can never drift apart): parquet-footer
    # + one core-slot wave of Arrow-worker warm, noop-sink
    # materialization, third iteration when sub-second (the
    # scheduler-noise floor — five phantom "regressions" in the r4
    # diff were all sub-second queries on untouched code), and a
    # gc.collect() per query bounding localCheckpoint residue. (The GC
    # is hygiene, NOT the phantom-breach cause: the r10 A/B ran under
    # 1.3x box-speed swings, and every in-bench breach re-measured
    # UNDER budget min-of-5 in a fresh session on the same box.)
    warm_session(spark, sf_dir)

    # Box-speed calibration stamp (r11 verdict task #2): a fixed-work
    # pure-JVM probe timed 1-thread and full-parallel BEFORE the
    # registry, so cross-sitting comparisons self-normalize (the r9-r11
    # phantom-breach class: 24 breaches across three rounds, every one
    # box-speed drift on untouched code). Readers: a sitting that
    # measures queries 1.3x slower should also read ~1.3x lower
    # box_speed_* here; tools_profile.py normalizes budget verdicts by it.
    box = box_speed_probe(spark)
    print(f"# box speed: {box}", file=sys.stderr)

    per_query: dict[str, float] = {}
    build_s: dict[str, float] = {}
    t_all = time.perf_counter()
    for name in sorted(QUERIES):
        spec = QUERIES[name]
        if not spec.bench:
            continue
        splits = time_noop_split(spec.build, spark, sf_dir)
        times = [b + w for b, w in splits]
        fastest = times.index(min(times))
        per_query[name] = round(times[fastest], 3)
        build_s[name] = round(splits[fastest][0], 3)
        print(
            f"# {name}: min={per_query[name]:.3f}s build={build_s[name]:.3f}s "
            f"(iters: {', '.join(f'{t:.3f}' for t in times)})",
            file=sys.stderr,
        )
    wall_all = round(time.perf_counter() - t_all, 3)
    total = round(sum(per_query.values()), 3)

    # Budget check: breaches are loud (sidecar + stderr), silence means
    # every query is inside its checked-in ceiling. Only meaningful at
    # the budgets' own scale factor (sf0.1).
    over_budget, no_budget = reconcile_budgets(
        per_query, _BUDGET_PATH, write_budgets, abs(sf - 0.1) < 1e-9, sf, box
    )

    # Sidecar carries the full per-query breakdown (too long for one stdout
    # line without the harness truncating it).
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "total wall-clock for registry queries",
                "value": total,
                "unit": "sec",
                "sf": sf,
                **source,
                # sourced from benchutil (the one definition of the
                # timing discipline) so the metadata can never lie about
                # what the shared helper actually did (r10 ADVICE note)
                "iterations": BASE_ITERS,
                "extra_iteration_below_s": EXTRA_BELOW,
                "agg": AGG,
                "wall_all": wall_all,
                **box,
                "loadavg_1m_start": load_1m_start,
                "loadavg_1m_end": round(os.getloadavg()[0], 2),
                "over_budget": over_budget,
                "no_budget": sorted(no_budget),
                "queries": per_query,
                "build_s": build_s,
            },
            fh,
            indent=1,
        )
        fh.write("\n")

    # Final stdout line: valid JSON, one line. r14 (VERDICT #7,
    # additions-only): the per-query map rides IN the line — the r13
    # driver's round-over-round comparison came back empty
    # (PERF_r13.json per_query {}, n_common 0) because the line carried
    # only totals and the sidecar is overwritten per run. ~7 KB for 219
    # queries; every existing key is unchanged.
    print(
        json.dumps(
            {
                "metric": "total wall-clock for registry queries",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(per_query),
                "over_budget": len(over_budget),
                "detail": "BENCH_DETAIL.json",
                "queries": per_query,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
