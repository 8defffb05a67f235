from .aggregates import (
    avg_of_daily_counts,
    pareto,
    percent_of_total,
    pivot_count,
    with_total_row,
)
from .joins import recommend_salting, salted_join, spine_left_join_fill
from .partitioner import balanced_partition, check_partition, constrained_partition
from .spines import hour_spine, time_slot_spine
from .windows import cumulative_sum, dedup_first, lag_wait_minutes, top_n

__all__ = [
    "avg_of_daily_counts",
    "balanced_partition",
    "check_partition",
    "constrained_partition",
    "cumulative_sum",
    "dedup_first",
    "hour_spine",
    "lag_wait_minutes",
    "pareto",
    "percent_of_total",
    "pivot_count",
    "recommend_salting",
    "salted_join",
    "spine_left_join_fill",
    "time_slot_spine",
    "top_n",
    "with_total_row",
]
