"""Validity of ``pubsub_stream``'s operating point.

The open loop's latency figures mean something only while the consumer
keeps up with the generator's schedule. After each batch the backlog is
the messages due by then minus the messages delivered so far; if it
grows over the window, or ever exceeds what one trigger may read, the
consumer has fallen behind and the run's latencies are invalid.
"""

from __future__ import annotations

import numpy as np

#: records one trigger may read: 4 shards x 5 polls x 1000 records
TRIGGER_BUDGET = 20_000
#: backlog growth, as a share of the operating rate, that marks the
#: consumer as falling behind; a steady consumer's slope is a few msgs/s
#: either way
GROWTH_TOL = 0.02


def samples(batches, start: float, rate: float, n: int) -> list[tuple[float, int]]:
    """(batch end, backlog) after each of ``batches``, given as
    ``(end, messages delivered)`` in delivery order; message ``i`` is due
    at ``start + i / rate``, and ``n`` messages are due in all."""
    out, delivered = [], 0
    for end, rows in batches:
        delivered += rows
        due = min(n, max(0, int((end - start) * rate) + 1))
        out.append((end, due - delivered))
    return out


def growth(points: list[tuple[float, int]]) -> float:
    """Least-squares slope of the backlog, messages/s (0 with fewer than
    three points)."""
    if len(points) < 3:
        return 0.0
    t, b = zip(*points)
    return float(np.polyfit(t, b, 1)[0])


def valid(points: list[tuple[float, int]], rate: float) -> bool:
    """The consumer kept up: the backlog neither grew by more than
    ``GROWTH_TOL`` of the rate nor exceeded one trigger's budget."""
    peak = max((b for _, b in points), default=0)
    return growth(points) <= GROWTH_TOL * rate and peak <= TRIGGER_BUDGET
