"""The benchmark's workloads: which ops run, on which data, memoized or not.

An op is either a catalog key (construct its DataFrame, then execute it
into the ``noop`` sink) or the CI gate (``ci.run_gate`` on a fresh
warehouse dir). README.md records why each workload exists.
"""

from __future__ import annotations

from dataclasses import dataclass

GATE = "ci.run_gate"


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    # replica size in copies of the bundled sf0.001 tables (1 = as bundled)
    copies: int
    # True: plans come from __spark_entry__.queries() (memoized, built once
    # in set-up); False: every op calls QUERIES[k].fn afresh
    memoized: bool

    def __post_init__(self) -> None:
        # with an odd op count the median op latency falls inside one op's
        # samples instead of between two ops, which made it jump run to run
        assert len(self.ops) % 2 == 1, f"{self.name}: op count must be odd"


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "analyst",
            (
                "q_revenue_daily",
                # publish-layer read: its lake table is published in setup
                "q_stats_skipping",
                # corpus-curation reads, where data cost is most of the time
                "q_html_extract",
                "q_contamination",
                "q_dup_spans",
            ),
            copies=20,
            memoized=True,
        ),
        Workload(
            "refresh",
            (
                GATE,
                "q_optimize_compact",
                "q_registry_build",
            ),
            copies=1,
            memoized=False,
        ),
    )
}
