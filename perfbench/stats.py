"""Pure statistics and host parsing for the benchmark (no Spark import).

Every rule the reported metrics rest on is here, small enough to test on its
own (``python3 -m pytest perfbench``):

- which tail percentile a run's sample supports;
- throughput from the median round, not the mean;
- the success ratio;
- hypervisor steal from ``/proc/stat``.
"""

from __future__ import annotations

import hashlib
import statistics

# a percentile is reported only when at least this many samples lie
# beyond it; fewer and the "tail" is one or two unlucky items
TAIL_SAMPLES_BEYOND = 10


def supported_percentile(n: int, candidates=(99, 95, 90, 75)) -> int | None:
    """The highest candidate percentile with at least ``TAIL_SAMPLES_BEYOND``
    of ``n`` samples strictly above it, else None (only the median holds)."""
    for p in candidates:
        if n * (100 - p) / 100 >= TAIL_SAMPLES_BEYOND:
            return p
    return None


def rows_per_s(rows_per_round: int, round_seconds) -> float:
    """Input rows one round reads over the MEDIAN round wall time: a steal
    burst that slows one round moves a mean but not the median."""
    return rows_per_round / statistics.median(round_seconds)


def success_ratio(matched: int, attempted: int) -> float:
    """Items whose output matched the oracle over items attempted; an item
    that raised counts as attempted and not matched."""
    if attempted < 1:
        raise ValueError("no item attempted")
    return matched / attempted


def parse_cpu_line(text: str) -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat.

    Fields: user nice system idle iowait irq softirq steal guest guest_nice.
    guest time is already counted in user, so it is left out of the total.
    Kernels that predate the steal column report 0 steal.
    """
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            vals = [int(v) for v in parts[1:]]
            steal = vals[7] if len(vals) > 7 else 0
            return sum(vals[:8]), steal
    raise ValueError("no aggregate cpu line in /proc/stat text")


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of all CPU time between two ``parse_cpu_line`` readings that
    the hypervisor took away (0.0 when no time passed)."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with Q1/Q3 from ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def canonical_hash(cols, rows, canon) -> str:
    """Order-insensitive digest of a result: columns sorted by name, each
    value rendered by ``canon`` (verify_all.py's canonical form), rows
    sorted. Two results hash equal exactly when verify_all.py's
    schema, count and value checks would all pass."""
    cols = list(cols)
    idx = [cols.index(c) for c in sorted(cols)]
    lines = sorted("\x1f".join(canon(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(cols)).encode())
    h.update(f"\x1e{len(lines)}".encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return h.hexdigest()
