"""Transaction-time index: time -> checkpoint tx for both graph kinds.

A checkpoint at time ``t`` is ``max(tx_id)`` over the transactions whose
``tx_time <= t`` (reference FluxGraph.java:228-241 loops over every
transaction).  Backdated writes interleave tx times out of tx order, so
the index keeps the times sorted with a running max of the tx ids and
answers by bisect instead of scanning every transaction.

``TemporalGraph`` keeps one current on every tx allocation (times are
python datetimes); ``DataFrameGraph`` builds one from its tx_log (times
are epoch microseconds, compared as Spark compares them).
"""

from __future__ import annotations

from bisect import bisect_right
from itertools import accumulate
from typing import Any, Iterable


class TxTimeIndex:
    """Sorted tx times, and per position the max tx id at or before it."""

    def __init__(self, pairs: Iterable[tuple[Any, int]] = ()) -> None:
        """Index ``(tx_time, tx_id)`` pairs."""
        pairs = sorted(pairs, key=lambda p: p[0])
        self._times = [t for t, _ in pairs]
        self._best = list(accumulate((tx for _, tx in pairs), max))

    def add(self, t: Any, tx: int) -> None:
        """Index a newly allocated transaction.  Its id exceeds every
        indexed id, so it is the max from its time's position on."""
        if self._best and tx <= self._best[-1]:
            raise ValueError(f"tx {tx} is not newer than indexed tx {self._best[-1]}")
        k = bisect_right(self._times, t)
        self._times.insert(k, t)
        self._best[k:] = [tx] * (len(self._times) - k)

    def resolve(self, t: Any) -> int:
        """max(tx_id) with tx_time <= ``t``; 0 when no transaction is."""
        k = bisect_right(self._times, t)
        return self._best[k - 1] if k else 0
