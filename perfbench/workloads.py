"""The benchmark's workloads: which registry queries each one runs, which
of its passes are measured, and the request order a seed draws.

A *pass* is one run over a workload's whole mix. The seed only permutes
the order of requests inside each pass of a warm workload, so every seed
measures the same work and the spread across seeds is run-to-run noise,
not mix drift.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

@dataclass(frozen=True)
class Workload:
    """One workload; why each was chosen is in BENCHMARK.json and README.md.

    A run sets the program up ``setups`` times (get_spark + warm_session,
    each in a new SparkContext of one JVM; the first also launches the
    JVM), runs ``warmup_passes`` passes on the last session, then measures
    passes until ``--seconds`` have gone by and at least ``min_passes``
    have run. Every figure is a median over the measured passes, so a
    burst of host contention moves one pass, not the run."""

    name: str
    queries: tuple[str, ...]
    # True: each output is written as parquet (day-partitioned when it
    # has a date or timestamp column). False: outputs go to the noop sink.
    writes: bool
    # True: every measured pass runs in a new SparkContext, set up (and
    # timed as a set-up) just before it, so the program's memos, which key
    # on the live context, are cold in every measured pass, as a daily
    # spark-submit pays them. The JVM and the plan code it compiled carry
    # over; the warm-up passes pay its cold start. False: one long-lived
    # session serves every pass, with warm memos.
    fresh: bool
    setups: int
    # A warm session's pass time falls steeply over its first two passes
    # (plan code being compiled) and slowly after that.
    warmup_passes: int
    min_passes: int


API_INTERACTIVE = Workload(
    name="api_interactive",
    queries=(
        "tpch_q1",
        "tpch_q3",
        "tpch_q13_order_count_distribution",
        "asof_join_last_purchase",
        "band_join_tiebreak",
        "sessionize_events",
        "topn_per_group",
        "json_field_access",
    ),
    writes=False,
    fresh=False,
    setups=3,
    warmup_passes=2,
    min_passes=3,
)

ETL_PUBLISH = Workload(
    name="etl_publish",
    queries=(
        # chain-day pipeline tables: the omnipool snapshot builds its trees
        # through the expression memo and is day-partitioned; the upsert
        # rewrites day partitions in place
        "snapshots_hydradx_omnipool",
        "merge_upsert_state",
        # a curated-corpus output (LLM-data curation jobs): a bounded
        # streaming replay, which runs its micro-batches while the query
        # is built
        "streaming_corpus_replay",
    ),
    writes=True,
    fresh=True,
    setups=1,  # and one more before every measured pass
    # the JVM's cold pass, then one on warm memos: after a single warm-up
    # pass the next ran up to 40% slower than the one after it
    warmup_passes=2,
    # two: each pass costs a set-up too, and a run has to stay near a
    # minute on a contended host (the median of two is their mean)
    min_passes=2,
)

WORKLOADS = {w.name: w for w in (API_INTERACTIVE, ETL_PUBLISH)}


class RequestOrder:
    """Seeded request order: pass ``k`` of a warm workload is a permutation
    of the mix drawn from one generator, so a seed fixes the whole
    sequence. A fresh-context workload keeps the mix's order, as a publish
    job does."""

    def __init__(self, workload: Workload, seed: int):
        self._mix = list(workload.queries)
        self._shuffle = not workload.fresh
        self._rng = random.Random(seed)

    def next_pass(self) -> list[str]:
        order = list(self._mix)
        if self._shuffle:
            self._rng.shuffle(order)
        return order
