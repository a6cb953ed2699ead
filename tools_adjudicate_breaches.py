"""One-shot idle-box adjudication of bench-budget breaches (r9 verdict
task #2): min-of-5 noop-sink timing at sf0.1 for breach names (default:
the r9 `over_budget` rows; pass names as argv), printed against their
checked-in budgets. Run on an idle box; the verdict-prescribed protocol
that exonerated the r8 pair. It prints its verdicts and writes no file.

r12: consumes the box-speed calibration stamp (benchutil.
box_speed_probe) — it measures THIS sitting's speed, reads the speed
stamped into BENCH_BUDGETS.json by the generating sitting, and prints a
NORMALIZED verdict alongside the raw one: expected_now = budget *
speed_then/speed_now. A breach that is under its normalized budget is
box drift, not code — the self-normalizing form of the manual min-of-5
protocol that consumed three rounds of phantom adjudications."""

from __future__ import annotations

import os

BREACHES = [
    "paragraph_dedup_rewrite",
    "pq_quantize_embeddings",
    "semdedup_prune",
    "simhash_fingerprints",
    "snapshots_assethub_stablecoins",
    "snapshots_dappstaking_v3",
    "snapshots_hydradx_omnipool",
]


def main() -> None:
    import json
    import sys

    from polkadot_etl_spark.queries import QUERIES
    from polkadot_etl_spark.session import get_spark

    global BREACHES
    if len(sys.argv) > 1:
        BREACHES = sys.argv[1:]
    from polkadot_etl_spark.benchutil import (
        box_speed_probe,
        time_noop_min,
        warm_session,
    )

    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark(app_name="polkadot-etl-spark-adjudicate")
    print(f"# loadavg_1m at start: {os.getloadavg()[0]:.2f}")
    warm_session(spark, sf_dir)

    budget_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_BUDGETS.json"
    )
    budget_doc = json.load(open(budget_path))
    budgets = budget_doc["budgets"]
    box_now = box_speed_probe(spark)
    box_then = budget_doc.get("box_speed") or {}
    # queries run at full parallelism, so the nt stamp is the right
    # normalizer; speed ratio > 1 means this sitting's box is SLOWER
    # than the one that generated the budgets. nt stamps are only
    # comparable at the SAME thread count (the session's core slots
    # can differ across sittings) — on mismatch fall back to the 1t
    # stamp, which is thread-count-free.
    ratio = None
    if box_then.get("box_speed_nt") and (
        box_then.get("box_probe_threads") == box_now.get("box_probe_threads")
    ):
        ratio = box_then["box_speed_nt"] / box_now["box_speed_nt"]
    elif box_then.get("box_speed_1t"):
        print(
            "# box_probe_threads mismatch "
            f"(then={box_then.get('box_probe_threads')}, "
            f"now={box_now.get('box_probe_threads')}) — normalizing on the "
            "1t stamp instead of nt"
        )
        ratio = box_then["box_speed_1t"] / box_now["box_speed_1t"]
    print(f"# box speed now: {box_now}")
    print(
        f"# box speed at budget generation: {box_then or 'UNSTAMPED (pre-r12 budgets)'}"
        + (f" -> normalization ratio {ratio:.3f}" if ratio else "")
    )
    for name in BREACHES:
        if name not in QUERIES:
            print(f"{name}: UNKNOWN query name — skipped")
            continue
        times = time_noop_min(
            QUERIES[name].build, spark, sf_dir, base_iters=5, extra_below=0.0
        )
        m = min(times)
        b = budgets.get(name)
        if b is None:
            verdict, btxt = "NO BUDGET (not in BENCH_BUDGETS.json)", "n/a"
        else:
            verdict = "UNDER (phantom)" if m <= b else "OVER (real)"
            btxt = f"{b:.2f}s"
            if ratio and m > b:
                b_norm = b * ratio
                verdict = (
                    f"OVER raw, UNDER normalized ({b_norm:.2f}s) — box drift"
                    if m <= b_norm
                    else f"OVER even normalized ({b_norm:.2f}s) — REAL"
                )
        print(
            f"{name}: min-of-5={m:.3f}s budget={btxt} {verdict} "
            f"(iters: {', '.join(f'{t:.3f}' for t in times)})"
        )


if __name__ == "__main__":
    main()
