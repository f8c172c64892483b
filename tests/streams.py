"""Helpers for driving streaming queries in tests."""

import time


def drain(query, rows: int, timeout_s: float = 120) -> None:
    """Wait until ``query`` has read ``rows`` input rows, then stop it.

    Under ``availableNow`` a stateful query with a processing-time timeout
    never terminates by itself: Spark keeps running no-data batches so its
    timers can fire, so neither ``awaitTermination`` nor
    ``processAllAvailable`` returns. Input rows are summed per batchId
    because ``recentProgress`` only keeps the latest updates."""
    seen: dict[int, int] = {}
    deadline = time.time() + timeout_s
    try:
        while True:
            for p in query.recentProgress:
                seen[p.batchId] = p.numInputRows
            if sum(seen.values()) >= rows:
                return
            assert query.exception() is None, query.exception()
            assert time.time() < deadline, (
                f"query read {sum(seen.values())} of {rows} rows in {timeout_s} s"
            )
            time.sleep(0.05)
    finally:
        query.stop()
