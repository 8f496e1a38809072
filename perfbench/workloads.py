"""The benchmark's workloads: fixed registry entries run at sf0.1.

Each workload is one closed-loop client: an entry starts only when the
previous one has finished.  The seed only shuffles the order of the
entries within each pass.  Why each workload exists is in
``BENCHMARK.json``.

A run pays 25-45 seconds before its first timed pass on a 4-core host
(JVM start, then a cold warm-up pass that compiles every plan), and the
benchmark is run dozens of times in a row, so a run has to stay around
a minute.  That leaves room for two workloads, not one per layer group:
the loop, pandas and streaming-MV entries share ``pipeline_mv_sf01``,
and heavier entries (er_golden_record, op_item_cf, dedup_jaccard_prefix,
the JOB clique shapes) do not fit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


def sf_dir() -> str:
    """The sf0.1 input tables: ``$PERFBENCH_SF_DIR``, else the sf0.1
    directory beside the smoke-test tables the entry contract names."""
    import __spark_entry__

    return os.environ.get("PERFBENCH_SF_DIR") or os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), "sf0.1")


@dataclass(frozen=True)
class Workload:
    name: str
    entries: tuple[str, ...]
    pass_s: float  # warm pass wall time on a 4-core host (reference only)

    def passes(self, seconds: float) -> int:
        """Timed passes that fill ``seconds`` on the reference host; at
        least two.  Fixing the count up front makes every run of a
        workload measure the same work, whatever the noise."""
        return max(2, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "sql_sf01",
            (
                # DataFrame-built: every call runs catalog.load per table
                "q5",
                "ds_q1_returns_above_avg",
                # register_sql: reuses the session's cached temp views
                "ds_q3_brand_year_revenue",
                "job_chain9_two_regions",
                "rel_group_by_all",
            ),
            4.7,
        ),
        Workload(
            "pipeline_mv_sf01",
            (
                "op_pagerank_support2",  # loop entry with an eager checkpoint
                "pipeline_semdedup",  # pandas kernel in Python workers
                "stream_continuous_aggregate",  # windowed state + MERGE sink
            ),
            12.6,
        ),
    )
}
