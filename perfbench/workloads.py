"""The benchmark's workloads: which registry queries a pass runs and
why the workload exists. Every workload reads the tables in
``perfbench/data``."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    pass_s: float  # a warm pass's expected wall time on 4 cores, sets the pass count
    min_passes: int
    why: str

    def passes(self, seconds: float) -> int:
        """Timed passes that fill ``seconds``. A function of the arguments
        only, so every run of a workload has the same sample count."""
        return max(self.min_passes, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="batch_sql",
            queries=(
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q5_local_supplier",
                "q6_forecast_revenue",
                "q9_product_profit",
                "q21_waiting_suppliers",
                "dedup_minhash_lsh",
                "similarity_brute_force_topk",
            ),
            pass_s=5.0,
            min_passes=2,
            why="JVM scan, shuffle, join and aggregate with no Python nodes; "
            "exec and shuffle changes show here, Python and state-store ones should not",
        ),
        Workload(
            name="stream_replay",
            queries=(
                "stream_window_tvf_hop",
                "stream_dedup_keep_last",
                "stream_interval_join",
                "stream_group_agg",
            ),
            pass_s=16.0,
            min_passes=1,
            why="micro-batch replay through Python-codec state and the JVM state store; "
            "cost is per task and per batch, not per row",
        ),
    )
}
